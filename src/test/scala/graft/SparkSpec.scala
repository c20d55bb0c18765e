package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one local SparkSession per JVM (forked sbt test
  * runs all suites in one JVM, so this is one session total), built by
  * the same factory as Bench and Verify so the specs check the session
  * that is measured. The factory has no warehouse parameter: the temp
  * warehouse rides in as a system property, which the session's
  * SparkConf reads when the factory first builds it.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    Tables.localSession("graft-test", cores = 4)
  }

  def resource(name: String): String = {
    val url = Thread.currentThread.getContextClassLoader.getResource(name)
    require(url != null, s"missing test resource $name")
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(url.toURI)), java.nio.charset.StandardCharsets.UTF_8)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Rows as a sorted list of plain-value sequences, for order-insensitive
    * exact comparison. */
  def rowSet(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.map(String.valueOf).mkString("|"))

  def rowList(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}
