package graft.osm

import java.io.{IOException, OutputStream}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** The process plumbing of [[Compression.compressTo]], without Spark. */
class CompressionSpec extends AnyFunSuite {

  test("a sink that fails mid-stream fails the compression instead of hanging it") {
    val sinkError = new IOException("sink full")
    val failing = new OutputStream {
      private var writes = 0
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        writes += 1
        if (writes > 1) throw sinkError
      }
    }
    // incompressible, so the compressor's output outgrows its stdout pipe
    val payload = new Array[Byte](2 << 20)
    new scala.util.Random(1).nextBytes(payload)
    // a blocked pipe write cannot be interrupted: wait on a Future
    val run = Future(Compression.compressTo(failing, Compression.DefaultCommand)(_.write(payload)))
    val e = intercept[IOException](Await.result(run, 60.seconds))
    assert(e eq sinkError)
  }
}
