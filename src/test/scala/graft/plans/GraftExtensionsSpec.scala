package graft.plans

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("word_shingles registered as a SQL function") {
    val spark = SparkSpec.builder
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    // a pre-existing shared session won't have build-time extensions —
    // the runtime registration path covers that case (and is itself
    // what this exercises when suites share the JVM session)
    GraftExtensions.register(spark)
    try {
      val out = spark.sql("SELECT word_shingles('a b c d', 3) AS sh")
        .head.getAs[scala.collection.Seq[String]]("sh")
      assert(out === Seq("a b c", "b c d"))
      val short = spark.sql("SELECT word_shingles('a b', 3) AS sh")
        .head.getAs[scala.collection.Seq[String]]("sh")
      assert(short === Seq("a b"))
      val empty = spark.sql("SELECT word_shingles('  ', 3) AS sh")
        .head.getAs[scala.collection.Seq[String]]("sh")
      assert(empty === Seq.empty)

      // the other custom expressions register under the same mechanism
      val sim = spark.sql("SELECT simhash64('a b c') AS h").head.getDecimal(0)
      assert(sim.signum >= 0)
      val cos = spark.sql(
        "SELECT cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)," +
          " CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c").head.getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      val lsh = spark.sql(
        "SELECT lsh_signature(CAST(array(1.0, -2.0, 3.0) AS ARRAY<FLOAT>), 8) AS s")
        .head.getLong(0)
      assert(lsh >= 0 && lsh < 256)
      // seeded_mix wraps instead of throwing under ANSI
      val mix = spark.sql(
        "SELECT seeded_mix(9223372036854775807L, 9223372036854775807L, 3) AS m")
        .head.getLong(0)
      assert(mix === (Long.MaxValue + 3L * Long.MaxValue))
      // positioned_gram_hashes agrees with xxhash64 of the joined gram
      val gh = spark.sql("SELECT positioned_gram_hashes('a b c d', 3) AS g")
        .head.getAs[scala.collection.Seq[Long]]("g")
      val want = spark.sql("SELECT xxhash64('a b c') AS x, xxhash64('b c d') AS y").head
      assert(gh === Seq(want.getLong(0), want.getLong(1)))
    } finally () // session may be shared with other suites — don't stop it
  }
}
