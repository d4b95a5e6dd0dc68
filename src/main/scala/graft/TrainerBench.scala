package graft

/** BPE-trainer cost-curve measurement (merges vs seconds) — the
  * data behind vocabulary-size decisions. The iterative trainer is the
  * one operator whose cost grows with the MERGE COUNT, not the corpus
  * (each round re-aggregates the distinct-word symbol table), so
  * graft.Bench — which times the frozen-vocab encode path — says
  * nothing about training cost. This main times `BpeTrainer
  * .trainOnCorpus` at a ladder of merge counts on SPARK_GRAFT_SF_DIR
  * and prints one JSON line; results are committed in TRAINER.md.
  */
object TrainerBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    val docs = Tables.t(spark, sfDir, "documents")
    // warm the word-frequency input (file listing, codegen) untimed
    graft.operators.BpeTrainer.trainOnCorpus(docs, "text", 1)
    val ladder = Seq(8, 16, 32, 64, 128)
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val rows = ladder.map { m =>
      val t0 = System.nanoTime()
      val learned = graft.operators.BpeTrainer.trainOnCorpus(docs, "text", m)
      val sec = (System.nanoTime() - t0) / 1e9
      s""""$m":{"sec":${num(sec)},"learned":${learned.size}}"""
    }
    println(s"""{"metric":"bpe_train","sf":"$sfDir","merges":${
      rows.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
