package perfbench

/** JVM side of the benchmark: `Main planet|gate --key value ...`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.head match {
      case "planet" => Planet.main(opts)
      case "gate" => Gate.main(opts)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }
}
