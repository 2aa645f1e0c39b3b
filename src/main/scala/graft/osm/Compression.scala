package graft.osm

import java.io.{IOException, OutputStream}
import scala.util.{Try, Using}

/** XML-output compression through an external program, as the
  * reference does (`--compress-command`, `src/planet-dump.cpp:34-35` +
  * `src/xml_writer.cpp:58-79`): [[DefaultCommand]], or any program on
  * `PATH` that reads stdin and writes stdout (`pbzip2 -c`, `gzip -c`, ...).
  *
  * [[XmlSink]] compresses each range partition as its own stream and
  * concatenates the streams, so the command's format must decode a
  * concatenation of streams as the concatenation of the payloads, as
  * bzip2, gzip, xz and zstd do.
  */
object Compression {

  /** The reference's compressor. */
  val DefaultCommand = "bzip2 -c"

  /** Run `write` against the stdin of `command`, run via `/bin/sh -c` as
    * the reference popens it, while a thread pumps its stdout to `os`. A
    * non-zero exit is an error naming the command, also when the command
    * ended before reading all of its input. A failure to write `os` ends
    * the command, so that `write` cannot block on a full pipe.
    */
  def compressTo(os: OutputStream, command: String)(write: OutputStream => Unit): Unit = {
    val proc = new ProcessBuilder("/bin/sh", "-c", command)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    @volatile var pumpError: Throwable = null
    val pump = new Thread(() => {
      try {
        val in = proc.getInputStream
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) os.write(buf, 0, n); n = in.read(buf) }
      } catch {
        case t: Throwable =>
          pumpError = t
          // `/bin/sh -c` need not exec the command: end the shell's children too
          proc.descendants().forEach(_.destroyForcibly())
          proc.destroyForcibly()
      }
    }, "compress-stdout-pump")
    pump.start()
    try {
      val written = Try(Using.resource(proc.getOutputStream)(write))
      pump.join()
      if (pumpError != null) throw pumpError
      val rc = proc.waitFor()
      if (rc != 0)
        throw new IOException(s"compress command '$command' exited with $rc", written.failed.toOption.orNull)
      written.get
    } finally proc.destroyForcibly()
  }
}
