package graft.queries

/** Dev harness main for `piicheck.py`: writes Spark's PII counts and
  * redacted text for a battery of PII-bearing strings (the gate's
  * corpus is PII-free, so q49 only proves clean-text passthrough; this
  * harness proves both engines agree on POSITIVE matches — formats,
  * boundaries, adjacency, unicode context — like `XxHashDump` does
  * for the XXH64 stripe path).
  */
object PiiDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/piicheck")
    new java.io.File(outDir).mkdirs()
    val spark = graft.GraftSession.builder("pii-dump", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val samples = Seq(
      "plain bob@example.com here",
      "tagged bob.smith+x@sub.example.co.uk end",
      "UPPER CASE@EXAMPLE.ORG mixed",
      "start@host.io leads",
      "trails tail@host.io",
      "two a@b.io and c@d.org",
      "single-letter tld a@b.c no match",
      "adjacent:x@y.de,punct",
      "phone +1 555-123-4567 classic",
      "phone (555) 123 4567 parens",
      "bare 5551234567 run",
      "digits 12345678 eight",
      "short 1234567 seven no match",
      "intl +49 (0) 30-1234-5678 long",
      "mixed call 555-123-4567 or mail x@y.io now",
      "unicode 日本語 x@y.io テスト +81 3-1234-5678 end",
      "no pii at all in this line",
      "")
    val df = samples.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
    val rows = df.select(col("id"),
        graft.functions.TextFunctions.emailCount(col("s")).as("ne"),
        graft.functions.TextFunctions.phoneCount(col("s")).as("np"),
        graft.functions.TextFunctions.redactPii(col("s")).as("red"))
      .collect()
    write(s"$outDir/truth.tsv", rows.map(r =>
      s"${r.getInt(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t${r.getString(3)}").mkString("\n"))
    write(s"$outDir/samples.tsv",
      samples.zipWithIndex.map { case (s, i) => s"$i\t$s" }.mkString("\n"))
    write(s"$outDir/patterns.txt",
      graft.functions.TextFunctions.EmailPattern + "\n" +
        graft.functions.TextFunctions.PhonePattern)
    spark.stop()
  }

  private def write(path: String, content: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(content) finally w.close()
  }
}
