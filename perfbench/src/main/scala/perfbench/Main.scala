package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** What one run was asked to do, and the per-run scratch state. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val trace: Boolean, val cores: Int, val work: Path,
                val data: String, val expectedRows: Map[String, Long],
                rec: Record, mainStartNs: Long) {
  private var live: SparkSession = _

  /** A new session on `local[c]`, after stopping the previous one. */
  def session(c: Int): SparkSession = {
    if (live != null) { live.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    live = graft.Engine.session(s"local[$c]", c)
    live
  }

  def stop(): Unit = if (live != null) live.stop()

  /** A fresh, empty directory under this run's scratch root. */
  def fresh(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Set up: from the start of main (JVM and class loading included) until
    * `body` has made the workload ready to measure; the seconds go to
    * `setup_s`. */
  def setup[T](body: => T): T = {
    val ready = body
    rec.add("setup_s", (System.nanoTime() - mainStartNs) / 1e9)
    ready
  }
}

/** Benchmark program. One run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <raw.json> [--data <dir>]
  * [--expected <rows.json>] [--setup-only 1]`, writing the raw record that
  * `run.py` turns into metrics; with `--setup-only 1` a sensor_stream run
  * sets up, records `setup_s` and stops. `--dump-oracle <file>` instead
  * writes the batch workload's query list and the oracle SQL of its
  * queries. */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("dump-oracle").foreach { f =>
      val sql = graft.SparkEntry.oracleSql
      val oracle = new java.util.TreeMap[String, String]()
      BatchBench.Curation.foreach(n => sql.get(n).foreach(oracle.put(n, _)))
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("oracle", oracle)
      m.put("queries", BatchBench.Curation.toArray)
      Files.writeString(Paths.get(f), new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m))
      return
    }
    val rec = new Record
    val expected = a.get("expected").map { f =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Paths.get(f).toFile)
      val it = node.fields()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
      b.result()
    }.getOrElse(Map.empty)
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      Runtime.getRuntime.availableProcessors(), Paths.get(a("work")), a.getOrElse("data", ""),
      expected, rec, t0)
    try ctx.workload match {
      case "sensor_stream" if a.contains("setup-only") => StreamBench.setupOnly(ctx)
      case "sensor_stream" => StreamBench.sensorStream(ctx, rec)
      case "batch_curation" => BatchBench.batch(ctx, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally ctx.stop()
    Files.writeString(Paths.get(a("out")), rec.toJson)
  }
}
