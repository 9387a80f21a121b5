package perfbench

import scala.collection.mutable

/** Everything one benchmark run measured, as raw values: the JVM side only
  * records, and `perfbench/stats.py` turns the record into metrics
  * (percentiles, span self time, validity), so the arithmetic has one
  * definition with its own tests.
  *
  *  - `dists`: raw samples per name (latencies, per-phase durations);
  *  - `scalars`: counts and single timings;
  *  - `spans`: the traced run's spans, times in ms since the run started;
  *  - `failures`: one line per failed operation, against `attempted`;
  *  - `findings`: defects a probe outside the workload's own operations
  *    found (reported with every run, counted in the traced run's
  *    `check.error_ratio`, not in the result's `failed`). */
final class Record {
  val dists = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val scalars = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  val findings = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  val spans = new Spans

  def add(name: String, v: Double): Unit =
    dists.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  def set(name: String, v: Double): Unit = scalars(name) = v
  def inc(name: String, v: Double = 1): Unit = scalars(name) = scalars.getOrElse(name, 0.0) + v
  def fail(msg: String): Unit = synchronized { failures += msg }
  def find(msg: String): Unit = synchronized { findings += msg }

  def toJson: String = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    val d = new java.util.LinkedHashMap[String, AnyRef]()
    dists.foreach { case (k, v) => d.put(k, v.map(Double.box).toArray) }
    val s = new java.util.LinkedHashMap[String, AnyRef]()
    scalars.foreach { case (k, v) => s.put(k, Double.box(v)) }
    m.put("attempted", Long.box(attempted))
    m.put("failures", failures.toArray)
    m.put("findings", findings.toArray)
    m.put("dists", d)
    m.put("scalars", s)
    m.put("spans", spans.rows)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
  }
}

/** In-memory span log: (id, parent, name, layer, start ms, end ms), parent
  * -1 for a root. Times are ms since [[Spans.origin]], so spans recorded
  * around benchmark calls (nanoTime) and spans rebuilt from Spark's epoch
  * timestamps (listener events, streaming progress) share one axis. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Array[AnyRef]]
  val originNs: Long = System.nanoTime()
  private val originEpochMs: Double = System.currentTimeMillis().toDouble
  @volatile var on = false

  def msOfNanos(ns: Long): Double = (ns - originNs) / 1e6
  def msOfEpoch(epochMs: Double): Double = epochMs - originEpochMs

  /** Claim an id for a span whose end is not known yet (-1 while tracing
    * is off); [[fill]] completes it. */
  def reserve(): Int = if (!on) -1 else synchronized { buf += null; buf.size - 1 }

  def fill(id: Int, name: String, layer: String, parent: Int,
           startMs: Double, endMs: Double): Int = {
    if (id >= 0) synchronized {
      buf(id) = Array(Int.box(id), Int.box(parent), name, layer,
        Double.box(startMs), Double.box(endMs))
    }
    id
  }

  /** Record one finished span; returns its id (or -1 while tracing is off). */
  def add(name: String, layer: String, parent: Int, startMs: Double, endMs: Double): Int =
    fill(reserve(), name, layer, parent, startMs, endMs)

  /** Time `body` as one span under `parent`; the body gets the new id. */
  def timed[T](name: String, layer: String, parent: Int)(body: Int => T): T = {
    val id = reserve()
    val t0 = System.nanoTime()
    try body(id)
    finally fill(id, name, layer, parent, msOfNanos(t0), msOfNanos(System.nanoTime()))
  }

  def rows: Array[AnyRef] = synchronized(buf.filter(_ != null).toArray[AnyRef])
}
