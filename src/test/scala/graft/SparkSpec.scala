package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — the engine's session, on 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.getOrCreate("local[4]", 4)

  /** Runs `body` with the given session confs set, then restores each
    * key's previous value (or unsets it), so no spec leaks a setting into
    * the specs that share its session after it. */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
