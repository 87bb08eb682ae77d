package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sink.SinkTable

/** Read-only views of the keyed stores' files: sizes, versions and the
  * bucket → version map of each `CURRENT` manifest. */
object StoreFs {
  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.toList finally s.close()
    }

  /** (bytes, files) of the regular files under `root`. */
  def du(root: Path): (Long, Long) = {
    val fs = walk(root).filter(Files.isRegularFile(_))
    (fs.map(Files.size).sum, fs.size.toLong)
  }

  final case class Snapshot(manifests: Map[Path, Map[Int, Int]], versions: Set[Path])

  /** Every store under `storeRoot`: a directory holding a `CURRENT` file. */
  def snapshot(storeRoot: Path): Snapshot = {
    val all = walk(storeRoot)
    val manifests = all.filter(_.getFileName.toString == "CURRENT").map { f =>
      val buckets = Files.readString(f).trim.split('\n').drop(1)
        .filter(l => l.nonEmpty && !l.startsWith("b ")).map { l =>
          val Array(k, v) = l.split(':'); k.toInt -> v.toInt
        }.toMap
      f.getParent -> buckets
    }.toMap
    val versions = all.filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.matches("v\\d+") && manifests.contains(p.getParent)).toSet
    Snapshot(manifests, versions)
  }

  def isDedup(store: Path, storeRoot: Path): Boolean =
    storeRoot.relativize(store).toString.startsWith("_dedup")

  /** Buckets of the keyed tables (not the dedup state) whose version moved. */
  def bucketsTouched(a: Snapshot, b: Snapshot, storeRoot: Path): Long =
    b.manifests.toSeq.filterNot { case (s, _) => isDedup(s, storeRoot) }.map { case (s, m) =>
      val old = a.manifests.getOrElse(s, Map.empty)
      m.count { case (k, v) => !old.get(k).contains(v) }.toLong
    }.sum

  /** Bytes in the version directories `b` has and `a` had not. */
  def bytesWritten(a: Snapshot, b: Snapshot): Long =
    (b.versions -- a.versions).toSeq.map(v => du(v)._1).sum

  /** A unit's store writes as per-layer values. */
  def unitLayer(bucketsTouched: Long, bytesWritten: Long, inBytes: Long): Map[String, Double] =
    Map("sink.buckets_touched" -> bucketsTouched.toDouble,
      "sink.bytes_written" -> bytesWritten.toDouble,
      "sink.write_amp" -> (if (inBytes > 0) bytesWritten.toDouble / inBytes else 0.0))

  /** (bytes, files, live versions) of the keyed tables, dedup state excluded. */
  def tableState(storeRoot: Path): (Long, Long, Long) = {
    val snap = snapshot(storeRoot)
    val tables = snap.manifests.keys.filterNot(isDedup(_, storeRoot)).toSeq
    val (bytes, files) = tables.map(du).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (bytes, files, snap.versions.count(v => tables.contains(v.getParent)).toLong)
  }
}

/** A keyed store's state as canonical cell strings. */
object State {
  def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }

  /** Order-independent digest of key → value rows: (row count, wrapping
    * sum of 64-bit row hashes). */
  def digest(rows: Map[String, String]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map { case (k, v) =>
      val s = k + "\u0001" + v
      (MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 71) & 0xffffffffL)
    }.sum)

  /** Collect a store's state in the table's column order as pk → cells. */
  def collect(state: DataFrame, table: SinkTable): Map[String, Seq[String]] = {
    val cols = table.schema.fieldNames.toSeq
    val pkIdx = table.primaryKey.map(cols.indexOf)
    state.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().map { r: Row =>
      val cells = cols.indices.map(i => cell(r.get(i)))
      pkIdx.map(cells).mkString("|") -> cells
    }.toMap
  }
}

object Schemas {
  def table(ks: String, name: String, pk: Seq[String], cols: (String, DataType)*): SinkTable =
    SinkTable(ks, name, StructType(cols.map { case (n, t) => StructField(n, t) }), pk)

  /** The Kafka source's columns as the generated JSON lines carry them;
    * `timestamp` is epoch milliseconds until [[kafkaFrame]] converts it. */
  val KafkaJson: StructType = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("key", StringType),
    StructField("value", StringType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("value", StringType))))),
    StructField("timestamp", LongType)))

  /** Generated JSON lines → the Kafka column contract. */
  def kafkaFrame(df: DataFrame): DataFrame =
    df.withColumn("timestamp", org.apache.spark.sql.functions.expr("timestamp_millis(timestamp)"))
}
