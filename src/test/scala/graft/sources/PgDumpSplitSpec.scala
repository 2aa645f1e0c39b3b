package graft.sources

import java.nio.file.{Files, Paths}
import graft.osm.{Load, PlanetFixture, Schema}
import org.scalatest.funsuite.AnyFunSuite

/** `PgDumpPartitionReader`'s line alignment over several byte-range
  * partitions. Every in-repo dump stages less text than the 4 MiB
  * `openCostInBytes` floor of a `PgDumpScan` split, so at the default
  * session settings the planner never cuts a table; here the
  * staged text of the fixture is cut by hand, at line starts, at the
  * `\n` byte, just before and after it, mid-line, and inside the
  * fixture's 68,201-character comment (longer than the reader's 64 KiB
  * buffer). Each part is read with the reader directly, and the parts'
  * rows in order must be the one-partition read, row for row: a line
  * read twice or dropped at a cut fails here.
  */
class PgDumpSplitSpec extends AnyFunSuite {

  private lazy val staging = Files.createTempDirectory("pgdump-split").toString

  private final class Staged(val table: Schema.Table) {
    val path: String = Load.stage(PlanetFixture.dump, table.name, staging)
    val bytes: Array[Byte] = Files.readAllBytes(Paths.get(path))
    val newlines: IndexedSeq[Int] = bytes.indices.filter(bytes(_) == '\n')

    /** Rows of [start, end), each as its values. */
    def read(start: Long, end: Long): Vector[Seq[Any]] = {
      val r = new PgDumpPartitionReader(table, table.schema, PgDumpPartition(path, start, end))
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => r.get().toSeq(table.schema)).toVector
      finally r.close()
    }

    /** Rows of the partitions the cuts make, concatenated in order. */
    def readCut(cuts: Seq[Long]): Vector[Seq[Any]] = {
      val bounds = 0L +: cuts :+ bytes.length.toLong
      bounds.zip(bounds.tail).flatMap { case (s, e) => read(s, e) }.toVector
    }

    lazy val whole: Vector[Seq[Any]] = read(0L, bytes.length.toLong)

    /** Cut offsets around every `stride`-th newline: on it, just before
      * it, just after it (a line start) and halfway to the next one.
      */
    def offsets(stride: Int): Seq[Long] =
      newlines.indices.filter(_ % stride == 0).flatMap { i =>
        val nl = newlines(i)
        val next = if (i + 1 < newlines.length) newlines(i + 1) else bytes.length
        Seq(nl - 1, nl, nl + 1, (nl + next) / 2)
      }.map(_.toLong).filter(o => o > 0 && o < bytes.length).distinct.sorted
  }

  private def check(t: Staged, cuts: Seq[Seq[Long]]): Unit = {
    assert(t.whole.nonEmpty)
    cuts.foreach { c =>
      val got = t.readCut(c)
      assert(got.length === t.whole.length, s"cuts $c")
      assert(got === t.whole, s"cuts $c")
    }
  }

  test("nodes read the same cut into 2 or 3 partitions at any offset") {
    val t = new Staged(Schema.nodes)
    val two = t.offsets(stride = 1)
    val three = t.offsets(stride = 40)
    check(t, two.map(Seq(_)))
    check(t, for (a <- three; b <- three if a < b) yield Seq(a, b))
  }

  test("changeset comments read the same cut inside the 68,201-character comment") {
    val t = new Staged(Schema.changesetComments)
    // the longest line, and cuts through it on both sides of the
    // reader's 64 KiB buffer, measured from its own start
    val (lineStart, lineEnd) = (-1 +: t.newlines).zip(t.newlines)
      .map { case (a, b) => (a + 1, b) }.maxBy { case (a, b) => b - a }
    assert(lineEnd - lineStart > (1 << 16), "the fixture's long comment is missing")
    val inside = Seq(1, 2, 100, (1 << 16) - 1, 1 << 16, (1 << 16) + 1,
      (lineEnd - lineStart) / 2, lineEnd - lineStart - 1)
      .map(d => (lineStart + d).toLong)
    val all = (t.offsets(stride = 1) ++ inside).distinct.sorted
    check(t, all.map(Seq(_)))
    check(t, for (a <- all; b <- all if a < b) yield Seq(a, b))
    // a part that starts and ends inside the comment reads nothing
    assert(t.read(lineStart + 10L, lineEnd - 1L).isEmpty)
  }
}
