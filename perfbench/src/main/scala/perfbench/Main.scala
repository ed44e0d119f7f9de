package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The benchmark's JVM: runs one workload and writes its result record
  * as JSON. `run.py` builds this, generates the inputs,
  * starts it, and prints the summary line.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --expected FILE --out FILE
  */
final case class Args(workload: String, seed: Long, seconds: Double,
    traced: Boolean, data: String, work: String, expected: String,
    out: String)

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("data"),
      need("work"), need("expected"), need("out"))
    val w: Workload = a.workload match {
      case "api_reads"       => new ApiReads(a)
      case "stream_catchup"  => new StreamCatchup(a)
      case other             => sys.error(s"unknown workload $other")
    }
    val r = try w.run() finally w.stopSession()
    Json.mapper.writeValue(new java.io.File(a.out), Map(
      "workload" -> a.workload, "seed" -> a.seed, "traced" -> a.traced,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "check_failures" -> r.checkFailures.take(20).toSeq,
      "metrics" -> r.metrics, "details" -> r.details))
  }
}

final class Result {
  var attempted = 0L
  var failed = 0L
  val checkFailures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val details = mutable.LinkedHashMap.empty[String, Any]
  def fail(msg: String): Unit = { failed += 1; checkFailures += msg }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
