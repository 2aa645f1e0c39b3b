package graft.osm

import java.util.concurrent.ForkJoinPool
import scala.collection.parallel.CollectionConverters._
import scala.collection.parallel.ForkJoinTaskSupport

/** Bounded driver-side fan-out, the Spark analogue of the reference's
  * `--max-concurrency` semaphore over writer threads
  * (`src/planet-dump.cpp:58-59`). Load stages and submits its per-table
  * jobs through it, and PlanetDump runs its output writers through it.
  */
private[osm] object Bounded {

  /** `f` over `xs` with at most `maxConcurrency` calls in flight, on a
    * pool owned here and shut down on return; None runs on the shared
    * fork-join pool (one slot per core). `Some(1)` is a serial run.
    * Results come back in input order.
    */
  def map[T, R](xs: Seq[T], maxConcurrency: Option[Int])(f: T => R): Seq[R] = {
    val pool = maxConcurrency.map { n =>
      require(n >= 1, s"maxConcurrency must be positive, got $n")
      new ForkJoinPool(n)
    }
    try {
      val p = xs.par
      pool.foreach(fj => p.tasksupport = new ForkJoinTaskSupport(fj))
      p.map(f).seq
    } finally pool.foreach(_.shutdown())
  }
}
