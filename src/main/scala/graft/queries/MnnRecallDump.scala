package graft.queries

import graft.Tables
import graft.operators.Similarity

/** Dev harness (PiiDump/NfcDump convention): measure the pair recall
  * of `mutualNearestNeighborsLsh` at its default knobs (bands=2,
  * rowsPerBand=8, maxBucket=4096) against the exact
  * `mutualNearestNeighbors` pairs on a fixture dir — the measured
  * number behind the operator's documented recall<1 contract
  * (PERF.md records the datapoint; q160b gates the plan shape).
  *
  * Usage: runMain graft.queries.MnnRecallDump [sfDir]
  */
object MnnRecallDump {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("mnn-recall-dump", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val e = Tables.embeddings(spark, d)
    val exact = Similarity.mutualNearestNeighbors(e, "vec_id", "embedding")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // defaults first, then the bands-buys-recall sweep the operator's
    // scaladoc promises (rowsPerBand fixed at the default 8)
    // signature budget is bands*rowsPerBand <= 62 total planes
    for ((bands, rows) <- Seq((2, 8), (4, 8), (6, 8), (8, 4))) {
      val lsh = Similarity.mutualNearestNeighborsLsh(e, "vec_id", "embedding",
          bands = bands, rowsPerBand = rows)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = (exact intersect lsh).size
      println(s"""{"dir":"$d","bands":$bands,"rows_per_band":$rows,""" +
        s""""exact_pairs":${exact.size},"lsh_pairs":${lsh.size},"hits":$hits,""" +
        s""""recall_ppm":${if (exact.isEmpty) 0 else 1000000L * hits / exact.size},""" +
        s""""precision_ppm":${if (lsh.isEmpty) 0 else 1000000L * hits / lsh.size}}""")
    }
    spark.stop()
  }
}
