package graft.etl

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.documents._

/** The load-stage orchestrator: runs every registered entity builder over
  * the transformed study (etl/ingest.py:495-517 + LoadStage semantics),
  * in the reference's topological order (kf_api_fhir_service.py:115-132)
  * so cross-resource surrogate references resolve.
  *
  * Scale notes: the reference feeds ONE wide frame (every fan-out
  * multiplied together) to all 16 builders; here each builder gets the
  * minimal ancestor-path sub-chain from [[Transform.Result.slice]] — no
  * cross-sibling row explosion, no giant materialization, and Catalyst
  * sees 16 small independent plans whose shared sub-joins dedup into
  * reused exchanges. Equal output by the distinct-projection argument in
  * Transform's scaladoc.
  */
object Pipeline {

  /** Endpoint tables whose columns each builder reads (its ancestor
    * path). `slice` adds key-provenance closure on top.
    */
  private val RequiredTables: Map[String, Set[String]] = Map(
    "practitioner" -> Set("studies", "investigators"),
    "organization" -> Set("studies", "investigators"),
    "practitioner_role" -> Set("studies", "investigators"),
    "patient" -> Set("studies", "participants"),
    "proband_status" -> Set("studies", "participants"),
    "family" -> Set("studies", "participants", "families"),
    "research_study" -> Set("studies"),
    "research_subject" -> Set("studies", "participants"),
    "disease" -> Set("studies", "participants", "diagnoses"),
    "phenotype" -> Set("studies", "participants", "phenotypes"),
    "vital_status" -> Set("studies", "participants", "outcomes"),
    "sequencing_center" -> Set("biospecimens"),
    "specimen" -> Set("studies", "participants", "biospecimens"),
    "histopathology" -> Set(
      "studies", "participants", "diagnoses", "biospecimen-diagnoses", "biospecimens"))
    // drs_document_reference is absent on purpose: its builder goes
    // through DrsBuilder.regroupFromChain, which derives its own
    // per-side slices instead of one ancestor-path frame

  /** (participant kf_id, study kf_id) projection of the participants
    * endpoint — lets the FamilyRelationship builder derive each row's
    * study tag (family_relationship.py:329) without the per-study run
    * context the reference has ambiently.
    */
  private def studyByParticipant(result: Transform.Result): Option[DataFrame] =
    result.steps.find(_.endpoint == "participants").map(_.df.select(
      org.apache.spark.sql.functions.col(s"`${Concepts.Participant.TargetServiceId}`"),
      org.apache.spark.sql.functions.col(s"`${Concepts.Study.TargetServiceId}`")))

  /** builder name → DataFrame of (key, resource_type, resource_json). */
  def buildAll(result: Transform.Result,
      indexd: Option[DataFrame] = None,
      centerNames: Map[String, String] = Map.empty): Seq[(String, DataFrame)] = {
    // memoize slices by the required table set (slice must see the
    // consumer's TRUE reads, not the closure, so pure-provenance steps
    // join key-projected + distinct'd); builders with equal requirements
    // (e.g. patient/proband/research_subject) still share ONE plan object
    val sliceCache = mutable.Map.empty[Set[String], DataFrame]
    def sliceFor(name: String): DataFrame = {
      val present = result.steps.map(_.endpoint).toSet
      val req = RequiredTables(name).filter(present)
      sliceCache.getOrElseUpdate(req, result.slice(req))
    }

    // NOTE on shared-subchain materialization (measured, do not redo):
    // persisting the chain prefixes that ≥2 closures replay (even only
    // the DAG branch points — pairwise longest common prefixes) made the
    // DRS builder 2.5-3.5x SLOWER at sf0.1: the un-pruned ~70-string-
    // column columnar cache costs more to build AND scan than replaying
    // the pruned, codegen'd join cascade per consumer. Catalyst's column
    // pruning through independent replays beats a wide shared cache.

    // Builders that filter ONLY on a shared join key also see the
    // reference's phantom rows: an orphan FK value in any sibling table
    // coalesces into the wide frame's key column with every other column
    // null (pandas outer-merge). Reproduce with a key-universe anti-join
    // union — a one-column distinct instead of replaying the fan-out
    // chain. Applies to patient (participant key), research_study (study
    // key) and disease (diagnosis key, via biospecimen-diagnoses);
    // every other builder filters on a second column that is null on
    // phantom rows, or its slice already contains all key carriers.
    def withKeyUniverse(name: String, key: String): DataFrame = {
      val base = sliceFor(name)
      val kc = org.apache.spark.sql.functions.col(s"`$key`")
      val phantoms = graft.clean.CleanOps.cleanStrings(result.keyUniverse(key))
        .where(kc.isNotNull)
        .join(base.select(kc).where(kc.isNotNull), Seq(key), "left_anti")
      base.unionByName(phantoms, allowMissingColumns = true)
    }

    val builders: Map[String, () => DataFrame] = Map(
      "practitioner" -> (() => InvestigatorBuilders.practitioner(sliceFor("practitioner"))),
      "organization" -> (() => InvestigatorBuilders.organization(sliceFor("organization"))),
      "practitioner_role" -> (() => InvestigatorBuilders.practitionerRole(sliceFor("practitioner_role"))),
      "patient" -> (() => FhirBuilders.patient(
        withKeyUniverse("patient", Concepts.Participant.TargetServiceId))),
      "proband_status" -> (() => ParticipantBuilders.probandStatus(sliceFor("proband_status"))),
      "family_relationship" -> (() => RelationshipBuilders.familyRelationship(
        result.familyRelationship.get, studyByParticipant(result))),
      "family" -> (() => FhirBuilders.family(sliceFor("family"))),
      "research_study" -> (() => FhirBuilders.researchStudy(
        withKeyUniverse("research_study", Concepts.Study.TargetServiceId))),
      "research_subject" -> (() => ParticipantBuilders.researchSubject(sliceFor("research_subject"))),
      "disease" -> (() => ConditionBuilders.disease(
        withKeyUniverse("disease", Concepts.Diagnosis.TargetServiceId))),
      "phenotype" -> (() => ConditionBuilders.phenotype(sliceFor("phenotype"))),
      "vital_status" -> (() => ParticipantBuilders.vitalStatus(sliceFor("vital_status"))),
      "sequencing_center" -> (() => ParticipantBuilders.sequencingCenter(
        sliceFor("sequencing_center"), centerNames)),
      "specimen" -> (() => SpecimenBuilder.specimen(sliceFor("specimen"))),
      "histopathology" -> (() => ConditionBuilders.histopathology(sliceFor("histopathology"))),
      // decomposed regroup straight off the chain — never materializes
      // the bs-path × seq-link product (see DrsBuilder.regroupFromChain)
      "drs_document_reference" -> (() => DrsBuilder.drsDocumentReference(
        result, indexd)))
    result.targets.map(name => name -> builders(name)())
  }

  /** All resources of a study as one DataFrame, builders sequenced in
    * load order (driver-side ordering; within Spark each is independent).
    */
  def buildAllUnion(result: Transform.Result,
      indexd: Option[DataFrame] = None,
      centerNames: Map[String, String] = Map.empty): DataFrame = {
    val parts = buildAll(result, indexd, centerNames)
    parts.map { case (name, df) => df.withColumn("builder", lit(name)) }
      .reduce(_ unionByName _)
  }
}
