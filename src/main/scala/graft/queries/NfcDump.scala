package graft.queries

/** Dev harness main for `nfccheck.py`: writes Spark's NFC
  * normalization output for strings that actually change under NFC
  * (the gate's corpus is ASCII, so q56 only proves passthrough) —
  * composed/decomposed accents, Hangul jamo, combining marks,
  * compatibility characters that must be PRESERVED (NFC, not NFKC).
  */
object NfcDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/nfccheck")
    new java.io.File(outDir).mkdirs()
    val spark = graft.GraftSession.builder("nfc-dump", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val samples = Seq(
      "café decomposed",          // e + combining acute -> é
      "café composed",             // already NFC
      "Å ring",                   // A + combining ring -> Å
      "Å angstrom sign",           // Å (ANGSTROM SIGN) -> U+00C5
      "ẛ̣ multi-combining",   // long s with dot above + dot below
      "ﬁsh ligature preserved",    // ﬁ must NOT decompose (that's NFKC)
      "각 hangul jamo", // composes to 각
      "ȫ stacked marks",
      "ascii stays ascii",
      "")
    val df = samples.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
    val rows = df.select(col("id"),
        graft.plans.NfcNormalize.nfc_normalize(col("s")).as("n"))
      .collect()
    write(s"$outDir/truth.tsv",
      rows.map(r => s"${r.getInt(0)}\t${r.getString(1)}").mkString("\n"))
    write(s"$outDir/samples.tsv",
      samples.zipWithIndex.map { case (s, i) => s"$i\t$s" }.mkString("\n"))
    spark.stop()
  }

  private def write(path: String, content: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(content) finally w.close()
  }
}
