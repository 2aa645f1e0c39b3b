package graft.queries

/** Dev harness main for `xxhcheck.py`: writes (a) the generated
  * [[XxHash64Sql]] byte-hash CTE chain and (b) Spark's own `xxhash64`
  * values for a battery of strings covering every XXH64 code path
  * (empty, sub-word, 4-byte word, 8-byte words, the ≥32-byte stripe
  * loop, multi-byte UTF-8, and lengths straddling every boundary).
  * The python side executes the SQL in the oracle engine and diffs —
  * the gate's testdata alone does not reach the stripe path (its
  * longest shingle is ~26 bytes), and a sign-overflow bug hid there
  * in round 2.
  */
object XxHashDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/xxhcheck")
    new java.io.File(outDir).mkdirs()
    val spark = graft.GraftSession.builder("xxhash-dump", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val samples = Seq("", "a", "abcd", "abcdefgh", "short shingle",
      "exactly thirty-two bytes here!!!",
      "日本語テスト multi-byte and long enough to stripe",
      "the quick brown fox jumps over the lazy dog " * 4) ++
      (0 until 96).map(i => rng.alphanumeric.take(i * 2 + (i % 3)).mkString)
    val df = samples.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
    val rows = df.select(col("id"), xxhash64(col("s")).as("h")).collect()
    write(s"$outDir/truth.tsv",
      rows.map(r => r.getInt(0).toString + "\t" + r.getLong(1)).mkString("\n"))
    write(s"$outDir/samples.tsv",
      samples.zipWithIndex.map { case (s, i) => i.toString + "\t" + s }.mkString("\n"))
    write(s"$outDir/ctes.sql", XxHash64Sql.hashBytesCtes("t", "s"))
    spark.stop()
  }

  private def write(path: String, content: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(content) finally w.close()
  }
}
