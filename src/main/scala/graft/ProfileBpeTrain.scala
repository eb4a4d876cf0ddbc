package graft

/** Dev harness: print the learned merge table at a given sf dir (used
  * once to author the x31 oracle's inlined state table).
  */
object ProfileBpeTrain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val n = if (args.length > 1) args(1).toInt else 24
    val spark = GraftSession()
    val bytes = args.length > 2 && args(2) == "--bytes"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val rounds =
      if (bytes) graft.ops.BpeTrainOps.bpeTrainBytes(docs, "text", n)
      else graft.ops.BpeTrainOps.bpeTrain(docs, "text", n)
    println("MERGES_SQL=" + rounds
      .map(m => s"(${m.rank},'${m.l}','${m.r}')").mkString(", "))
    println("MERGES_SCALA=" + rounds
      .map(m => "(\"" + m.l + "\", \"" + m.r + "\")").mkString(", "))
    rounds.foreach(m => println(s"ROUND ${m.rank}: (${m.l}|${m.r}) cnt=${m.cnt}"))
    spark.stop()
  }
}
