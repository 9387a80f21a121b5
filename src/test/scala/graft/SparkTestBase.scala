package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate keeps total test time sane). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Engine.session(master = "local[4]", shufflePartitions = 4)
  val Sf0001 = "/root/testdata/sf0.001"

  /** The state store transformWithState needs (multiple column families). */
  val RocksDbStateStore: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session confs `pairs` set, then restore each key:
    * its previous value, or unset when it had none. Every suite shares one
    * session, so a conf a test leaves set leaks into all later tests. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
