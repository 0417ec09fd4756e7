package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}
import scala.jdk.CollectionConverters._

/** Order-insensitive result fingerprints of the [[SparkEntry.queries]],
  * the offline stand-in for the DuckDB oracle compare: a frozen
  * fingerprint per query at sf0.001 ([[fixture]]), replayed by
  * `QueryFingerprintSpec`. A fingerprint is
  *  - the schema string, columns sorted by name;
  *  - the row count;
  *  - the wrapping sum of one xxhash64 per row, so row order and
  *    partitioning do not matter, but every row's multiplicity does.
  * Doubles are rounded to 9 digits first and maps hashed as their
  * sorted entries, as `tools/crosscheck.py` canonicalises results.
  *
  * Regenerate (every query, overwriting the fixture) with:
  * {{{ sbt "Test/runMain graft.tools.QueryFingerprints" }}}
  * A query that fails is left out of the file and named on stderr.
  */
object QueryFingerprints {
  final case class Fingerprint(schema: String, rows: Long, hash: Long) {
    def line(name: String): String = s"$name\t$schema\t$rows\t${java.lang.Long.toHexString(hash)}"
  }

  val fixture: String = "fixtures/query_fingerprints.tsv"

  def of(df: DataFrame): Fingerprint = {
    // positional names: a result may repeat a column name
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val named = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val canon: Seq[Column] = fields.toSeq.map { case (f, i) =>
      val c = col(s"_c$i")
      f.dataType match {
        case DoubleType | FloatType => round(c, 9)
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    // a null is skipped by the hash, so a null flag keeps (null, x) and
    // (x, null) apart
    val rowHash = xxhash64(canon.flatMap(c => Seq(c.isNull, c)): _*)
    val hashes = named.select(rowHash).collect().map(_.getLong(0))
    Fingerprint(fields.map { case (f, _) => s"${f.name}:${f.dataType.catalogString}" }
      .mkString("struct<", ",", ">"), hashes.length.toLong, hashes.sum)
  }

  def read(path: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, schema, rows, hash) = l.split('\t')
      name -> Fingerprint(schema, rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
    }.toMap

  def main(args: Array[String]): Unit = {
    val spark = graft.TestSpark.spark
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try Some(of(q(spark, graft.TestSpark.sf)).line(name))
      catch { case e: Exception =>
        System.err.println(s"[fingerprint] $name failed: $e")
        None
      }
    }
    Files.write(Paths.get(fixture), lines.asJava)
    println(s"${lines.size}/${SparkEntry.queries.size} fingerprints written to $fixture")
    spark.stop()
  }
}
