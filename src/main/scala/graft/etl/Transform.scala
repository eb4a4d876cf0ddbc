package graft.etl

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.clean.CleanOps
import graft.relational.RelationalOps

/** The transform stage: rename every endpoint table into the concept
  * namespace, then build the presence-driven left-to-right full outer
  * join chain into one wide denormalized DataFrame per study, plus the
  * standalone family-relationship table
  * (kf_task_fhir_etl/etl/ingest.py:129-493).
  *
  * The whole assembly is driver-side conditionals over lazy DataFrames:
  * Catalyst only ever sees the joins that actually exist.
  *
  * Scale design (the headline 100 TB fix, SURVEY §4): the reference
  * materializes ONE wide frame (ingest.py:485) and feeds it to all 16
  * entity builders. That frame carries the cross product of every 1:N
  * sibling fan-out (diagnoses × phenotypes × outcomes × specimen chain)
  * — multiplicative row explosion that no cluster survives at 100 TB.
  * Because every builder (a) only reads columns from its own ancestor
  * path and (b) dedups by its natural key, the distinct projection it
  * consumes is IDENTICAL on a minimal sub-chain that replays only the
  * ancestor-path joins. [[Result.slice]] provides exactly that; the full
  * `wide` frame remains available for API parity with the reference.
  */
object Transform {

  /** Entity-builder names in load order (the reference's `all_targets`,
    * target_api_plugins/kf_api_fhir_service.py:115-132) — a topological
    * order of cross-resource references.
    */
  val AllTargets: Seq[String] = Seq(
    "practitioner", "organization", "practitioner_role",
    "patient", "proband_status", "family_relationship", "family",
    "research_study", "research_subject",
    "disease", "phenotype", "vital_status",
    "sequencing_center", "specimen", "histopathology",
    "drs_document_reference")

  /** One merge of the reference's join chain: `endpoint` renamed into the
    * concept namespace as `df`, outer-joined into the accumulator on
    * `keys`. `deps` are the earlier endpoints that PROVIDE those key
    * columns (key provenance) — the minimal context a sub-chain replay
    * needs for the join to mean the same thing it means in the full
    * chain.
    */
  final case class Step(
      endpoint: String, df: DataFrame, keys: Seq[String], deps: Set[String],
      keyOnly: Boolean = false)

  final case class Result(
      steps: Seq[Step],
      familyRelationship: Option[DataFrame],
      targets: Seq[String]) {

    /** Fold-prefix memo: every chain fold (wide and slices) is built
      * incrementally through this cache, so two consumers whose kept
      * steps share a leading run share ONE plan object for it. (Plan-
      * object sharing does not reuse execution: Catalyst prunes
      * different columns into each consumer's copy, so the canonicalized
      * exchanges differ and ReuseExchange can't match them; see the
      * measured note in [[graft.etl.Pipeline]] on why the prefixes are
      * not persisted.)
      */
    private val prefixCache =
      mutable.Map.empty[Seq[String], DataFrame]

    /** The reference's full wide frame (ingest.py:485 incl. clean_up_df's
      * trim + sentinel-null + exact-dup drop). API-parity surface; the
      * entity pipeline uses [[slice]] instead.
      */
    lazy val wide: DataFrame = CleanOps.cleanUp(foldChain(steps))

    /** Minimal wide frame for a consumer that only reads columns of the
      * given endpoints: replays the reference join chain (same order,
      * same keys, same outer semantics) over the transitive
      * key-provenance closure of `required`. String cleaning is applied
      * as in clean_up_df; the exact-duplicate drop is omitted because
      * every consumer projects + dedups by natural key, for which
      * duplicate rows are a no-op (SURVEY §4).
      *
      * Equivalence argument (why a sub-chain is safe): an outer join
      * that is SKIPPED only (1) multiplied matching rows — collapsed by
      * the consumer's distinct — or (2) appended unmatched right-side
      * rows whose columns outside that table are all null; consumers
      * filter on their natural key being non-null, so those padded rows
      * are invisible to them unless the skipped table IS on their
      * ancestor path. Join-key columns coalesce identically in both
      * plans because the provenance closure keeps every provider of a
      * replayed key.
      */
    /** Key-provenance closure of `required` (present endpoints only).
      * The earliest kept step is the fold root and never joins, so its
      * own deps are not needed (right-side key values coalesce through
      * skipped ancestors unchanged).
      *
      * Memoize slices by the REQUIRED set, not this closure:
      * slice(closure(r)) would mark every step a true read and forfeit
      * the key-only distinct that slice(r) applies to pure-provenance
      * steps.
      */
    @annotation.tailrec
    final def closure(required: Set[String]): Set[String] = {
      val present = steps.map(_.endpoint).toSet
      val need = required.filter(present)
      val ordered = steps.filter(s => need(s.endpoint))
      // absent deps must be filtered HERE, not just on entry — otherwise
      // a dep naming a missing endpoint is re-added each pass and the
      // fixpoint never holds (infinite loop). An absent dep can't be
      // replayed; the downstream join then fails on its missing key
      // column exactly like the full wide chain would.
      val more = need ++ ordered.drop(1).flatMap(_.deps).filter(present)
      if (more == need) need else closure(more)
    }

    /** Steps kept by [[closure]] but NOT in `required` exist purely as
      * key provenance — the consumer reads none of their non-key
      * columns. Those join as their chain-key columns DISTINCT'd
      * (semi-join reduction): key value sets — hence which rows match
      * and how key columns coalesce — are preserved exactly, only row
      * multiplicity shrinks, which consumers erase anyway (the dedup
      * assumption above). The payoff is quadratic at scale: a link
      * table with d duplicate rows per key multiplies matches by d per
      * join it participates in; distinct'ing every pure-provenance link
      * collapses d^k chain fan-out to the d of the tables actually
      * read.
      */
    def slice(required: Set[String]): DataFrame = {
      val need = closure(required)
      require(need.nonEmpty, s"no requested endpoint present: $required")
      val keptRaw = steps.filter(s => need(s.endpoint))
      val chainKeys = keptRaw.flatMap(_.keys).distinct
      val kept = keptRaw.map { s =>
        if (required(s.endpoint)) s
        else {
          val keep = chainKeys.filter(s.df.columns.contains)
          s.copy(
            df = s.df.select(keep.map(k =>
              org.apache.spark.sql.functions.col(s"`$k`")): _*).distinct(),
            keyOnly = true)
        }
      }
      CleanOps.cleanStrings(foldChain(kept))
    }

    /** All values the wide frame's coalesced `keyCol` can hold: the union
      * of that column from every chain table that carries it (each outer
      * join coalesces the key, so an orphan FK value in ANY sibling
      * table surfaces as a row of the wide frame — e.g. a diagnosis
      * whose participant_id matches no participant yields a phantom
      * patient in the reference). One-column distinct: map-side partial
      * agg, negligible at any scale.
      */
    def keyUniverse(keyCol: String): DataFrame = {
      val carriers = steps.filter(_.df.columns.contains(keyCol))
      carriers.map(_.df.select(s"`$keyCol`"))
        .reduce(_ union _)
        .distinct()
    }

    private def foldChain(chain: Seq[Step]): DataFrame = {
      // key-only variants fold to different frames than full steps, and
      // WHICH keys a key-only step keeps depends on the whole slice's
      // chain (keys of later steps) — the cache key must carry the
      // projected column list itself, or two slices sharing a prefix
      // name sequence could serve each other the wrong projection
      val names = chain.map(s =>
        if (s.keyOnly) s.endpoint + "#" + s.df.columns.mkString(",")
        else s.endpoint)
      prefixCache.getOrElseUpdate(names,
        if (chain.sizeIs == 1) chain.head.df
        else RelationalOps.outerJoinChain(foldChain(chain.init),
          Seq((chain.last.df, chain.last.keys))))
    }
  }

  /** Presence-driven assembly over whatever endpoints the extract stage
    * returned. Each block mirrors one `if <endpoint> is not None:` in
    * ingest.py:145-489: rename (P2), record the chain step with the
    * reference's key(s) + the endpoints providing them, and register the
    * target builders it enables.
    */
  def apply(endpoints: Map[String, DataFrame]): Result = {
    val C = Concepts
    def renamed(name: String): Option[DataFrame] =
      endpoints.get(name).map { df =>
        RelationalOps.renameColumns(CleanOps.dropSystemColumns(df), RenameMaps.byEndpoint(name))
      }

    var targets = Set.empty[String]
    var steps = Vector.empty[Step]
    def merge(name: String, df: DataFrame, on: Seq[String], deps: Set[String]): Unit =
      steps :+= Step(name, df, on, deps)

    val studies = renamed("studies").getOrElse(
      throw new IllegalArgumentException("no 'studies' endpoint present"))
    steps :+= Step("studies", studies, Nil, Set.empty)
    targets += "research_study"

    renamed("investigators").foreach { inv =>
      merge("investigators", inv, Seq(C.Investigator.TargetServiceId), Set("studies"))
      targets ++= Set("practitioner", "organization", "practitioner_role")
    }

    renamed("participants").foreach { p =>
      merge("participants", p, Seq(C.Study.TargetServiceId), Set("studies"))
      targets ++= Set("patient", "proband_status", "research_subject")
    }

    renamed("families").foreach { f =>
      merge("families", f, Seq(C.Family.TargetServiceId), Set("participants"))
      targets += "family"
    }

    // family-relationships: cleaned standalone table, not joined into the
    // wide frame (ingest.py:246-258)
    val familyRel = renamed("family-relationships").map { fr =>
      targets += "family_relationship"
      CleanOps.cleanUp(fr)
    }

    renamed("diagnoses").foreach { d =>
      merge("diagnoses", d, Seq(C.Participant.TargetServiceId), Set("participants"))
      targets += "disease"
    }

    renamed("phenotypes").foreach { p =>
      merge("phenotypes", p, Seq(C.Participant.TargetServiceId), Set("participants"))
      targets += "phenotype"
    }

    renamed("outcomes").foreach { o =>
      merge("outcomes", o, Seq(C.Participant.TargetServiceId), Set("participants"))
      targets += "vital_status"
    }

    val bioDx = renamed("biospecimen-diagnoses")
    bioDx.foreach { bd =>
      merge("biospecimen-diagnoses", bd, Seq(C.Diagnosis.TargetServiceId), Set("diagnoses"))
    }

    renamed("biospecimens").foreach { b =>
      // composite key iff biospecimen-diagnoses joined first
      // (ingest.py:381-395) — bioDx then provides the BIOSPECIMEN|TSI
      // half of the key, so it (and transitively diagnoses) is key
      // provenance for any sub-chain containing this join.
      val (on, deps) =
        if (bioDx.isDefined) { targets += "histopathology"
          (Seq(C.Participant.TargetServiceId, C.Biospecimen.TargetServiceId),
            Set("participants", "biospecimen-diagnoses")) }
        else (Seq(C.Participant.TargetServiceId), Set("participants"))
      merge("biospecimens", b, on, deps)
      targets ++= Set("sequencing_center", "specimen")
    }

    renamed("biospecimen-genomic-files").foreach { bgf =>
      merge("biospecimen-genomic-files", bgf,
        Seq(C.Biospecimen.TargetServiceId), Set("biospecimens"))
    }

    renamed("genomic-files").foreach { gf =>
      merge("genomic-files", gf,
        Seq(C.GenomicFile.TargetServiceId), Set("biospecimen-genomic-files"))
      targets += "drs_document_reference"
    }

    val seqGf = renamed("sequencing-experiment-genomic-files")
    seqGf.foreach { s =>
      merge("sequencing-experiment-genomic-files", s,
        Seq(C.GenomicFile.TargetServiceId), Set("genomic-files"))
    }

    // sequencing-experiments joins only if the link table was present
    // (ingest.py:465-483)
    if (seqGf.isDefined)
      renamed("sequencing-experiments").foreach { se =>
        merge("sequencing-experiments", se, Seq(C.Sequencing.TargetServiceId),
          Set("sequencing-experiment-genomic-files"))
      }

    Result(
      steps = steps,
      familyRelationship = familyRel,
      targets = AllTargets.filter(targets.contains))
  }
}
