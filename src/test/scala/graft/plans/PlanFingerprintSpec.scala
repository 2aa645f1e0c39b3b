package graft.plans

import graft.PlanFingerprint
import org.scalatest.funsuite.AnyFunSuite

/** CI gate over the committed plan fingerprints: every gate query's
  * physical-plan structure (scans per table, shuffles, broadcasts,
  * sorts, aggregates, joins) must match `plan_fingerprints.json`. A
  * failing diff means a change ALTERED a query plan — if intentional,
  * regenerate with `sbt "runMain graft.PlanFingerprint"` and commit
  * the reviewable diff; if not, the test just caught a silent
  * double-scan / extra-shuffle regression.
  */
class PlanFingerprintSpec extends AnyFunSuite {

  test("the plan gates plan under the profile's SQL settings") {
    // the bench runs GraftSession's profile; a gate planned under any
    // other value (Spark's 10 MB broadcast threshold, or a runtime
    // override another spec left behind) certifies plans the bench
    // does not run
    val seen = GatePlans.pass.settings
    val wrong = GatePlans.profile.collect {
      case (k, v) if !seen(k).contains(v) => s"$k = ${seen(k).getOrElse("unset")}, profile $v"
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("every gate query's physical plan matches the committed fingerprint") {
    val path = java.nio.file.Paths.get(PlanFingerprint.SnapshotPath)
    assert(java.nio.file.Files.exists(path),
      s"${PlanFingerprint.SnapshotPath} missing — generate it with " +
        """sbt "runMain graft.PlanFingerprint"""")
    val committed = PlanFingerprint.parseJson(java.nio.file.Files.readString(path))
    val current = GatePlans.pass.plans.map { case (k, p) => k -> PlanFingerprint.fingerprint(p) }
    val diffs = current.flatMap { case (name, fp) =>
      committed.get(name) match {
        case None => Some(s"$name: NEW query, no committed fingerprint")
        case Some(c) if c != fp => Some(s"$name: committed=$c current=$fp")
        case _ => None
      }
    } ++ (committed.keySet -- current.map(_._1).toSet).toSeq.sorted
      .map(n => s"$n: committed fingerprint for a query that no longer exists")
    assert(diffs.isEmpty,
      s"""plan fingerprints drifted (intentional change? regenerate with sbt "runMain graft.PlanFingerprint"):
         |${diffs.mkString("\n")}""".stripMargin)
  }
}
