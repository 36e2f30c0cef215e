package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, floor, lit}
import org.apache.spark.sql.types._

import graft.{CacheTracker, SparkEntry, Tables}
import graft.ops.{ManifestTable, ZTable}

/** One timed call. `run` is timed; `record` turns its result into the
  * fields of the call's record and is not timed. */
final case class Call(name: String, run: () => Any,
    record: Any => Map[String, Any])

trait Workload {
  /** Set-up attempt `n` in a fresh session: resolve the inputs (and
    * commit the base state, where the workload has one). */
  def prepare(spark: SparkSession, n: Int): Unit
  /** The calls of pass `p`; pass 0 is the cold pass. Empty when the
    * workload's inputs are used up. */
  def pass(spark: SparkSession, p: Int): Seq[Call]
  /** Untimed work after the measured window: what the checks need. */
  def finish(spark: SparkSession): Map[String, Any]
}

object Digest {
  def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }
  /** Order-independent digest of a result: md5 over its sorted rows. */
  def of(rows: Array[Row], canon: Row => String): String =
    md5(rows.map(canon).sorted.mkString("\n"))
  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted
        .mkString("{", ",", "}")
    case x => x.toString
  }
  def generic(r: Row): String = r.toSeq.map(value).mkString("\u0001")
}

/** Registered queries run through `SparkEntry.queries`, each result
  * collected (`collect`); once in the cold pass, twice in a warm pass. Cold results are kept and
  * written as parquet after the measured window for the DuckDB oracle
  * check. */
final class QueryOps(names: Seq[String], data: String, runDir: String)
    extends Workload {
  private val fns = names.map(n => n -> SparkEntry.queries(n))
  private val cold = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  def prepare(spark: SparkSession, n: Int): Unit =
    Tables.all.foreach(t => Tables(spark, data, t))

  def pass(spark: SparkSession, p: Int): Seq[Call] =
    Seq.fill(if (p == 0) 1 else 2)(fns).flatten.map { case (n, fn) =>
      Call(n, () => {
        val df = fn(spark, data)
        val rows = df.collect()
        CacheTracker.releaseAll()
        (rows, df.schema)
      }, {
        case (rows: Array[Row] @unchecked, schema: StructType) =>
          if (p == 0) cold(n) = (rows, schema)
          Map("digest" -> Digest.of(rows, Digest.generic), "rows" -> rows.length)
      })
    }

  def finish(spark: SparkSession): Map[String, Any] = {
    cold.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"$runDir/cold/$n")
    }
    Map("oracle" -> SparkEntry.oracleSql.filter(kv => cold.contains(kv._1)))
  }
}

/** One long-lived table seeded from `orders`, driven through the public
  * calls of `ManifestTable` and `ZTable` by the seeded plan that
  * perfbench/run.py writes (batch files and DML parameters). Pass 0 is
  * round 0 and runs both compactions; each later pass is two rounds, the
  * first ending in a bin-pack, the second in a z-order rewrite. */
final class TableDml(data: String, runDir: String, traced: Boolean)
    extends Workload {
  private val plan = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$runDir/plan.json"))
  private val rounds = plan.get("rounds").asScala.toIndexedSeq
  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", LongType), StructField("o_key_s", StringType)))
  private var root = ""
  private var v = 0L         // latest committed version
  private var baseVersion = 0L // version the set-up left
  private var roundStart = 0L
  private var files = (0L, 0L) // (data files, bytes) under root

  private def canon(r: Row): String =
    schema.fieldNames.map(f => Digest.value(r.getAs[Any](f))).mkString("\u0001")
  private def batch(spark: SparkSession, f: String): DataFrame =
    spark.read.schema(schema).parquet(s"$runDir/$f")
  private def range(a: com.fasterxml.jackson.databind.JsonNode) =
    col("o_orderkey").between(a.get(0).asLong, a.get(1).asLong)
  private def listing(): (Long, Long) = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foldLeft((0L, 0L)) { (a, f) => (a._1 + 1, a._2 + f.toFile.length) }
    finally s.close()
  }

  def prepare(spark: SparkSession, n: Int): Unit = {
    root = s"$runDir/table_$n"
    val base = Tables(spark, data, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"),
      floor(col("o_totalprice")).as("o_totalprice"),
      col("o_orderkey").cast("string").as("o_key_s"))
    ManifestTable.commit(base.coalesce(1), root)
    v = ZTable.optimizeZOrder(spark, root, "o_orderkey", "o_custkey",
      "o_orderkey", nFiles = 8, bloomCol = Some("o_key_s"))
    baseVersion = v
    if (traced) files = listing()
  }

  private def commit(name: String, f: () => Long): Call =
    Call(name, f, { case nv: Long =>
      v = nv
      if (!traced) Map("version" -> nv)
      else {
        val (n0, b0) = files
        files = listing()
        Map("version" -> nv, "files_added" -> (files._1 - n0),
          "bytes_added" -> (files._2 - b0))
      }
    })

  /** A read; `f` returns the frame and the parameters it was read with. */
  private def read(name: String, f: () => (Map[String, Any], DataFrame))
      : Call =
    Call(name, () => { val (at, df) = f(); (at, df, df.collect()) }, {
      case (at: Map[String, Any] @unchecked, df: DataFrame @unchecked,
          rows: Array[Row] @unchecked) =>
        at ++ Map("version" -> v, "rows" -> rows.length,
          "digest" -> Digest.of(rows, canon)) ++
          (if (traced) Map("files_read" -> df.inputFiles.length) else Map())
    })

  private def round(spark: SparkSession, r: Int): Seq[Call] = {
    val p = rounds(r)
    val scan = p.get("scan")
    val key = p.get("bloom_key").asText
    val back = p.get("back").asLong
    val upd = p.get("update")
    val pruned =
      if (r % 2 == 0)
        read("pruned_read", () => (Map("scan" -> r), ZTable.scanXRange(
          spark, root, scan.get(0).asLong, scan.get(1).asLong)))
      else
        read("pruned_read", () => (Map("bloom" -> r),
          ZTable.readBloomCandidates(spark, root, lit(key))
            .filter(col("o_key_s") === key)))
    val binPack = commit("optimize_binpack", () =>
      ManifestTable.optimizeBinPack(spark, root, minFileBytes = 64L * 1024))
    val zOrder = commit("optimize_zorder", () =>
      ZTable.optimizeZOrder(spark, root, "o_orderkey", "o_custkey",
        "o_orderkey", nFiles = 8, bloomCol = Some("o_key_s")))
    Seq(
      commit("append", () => {
        roundStart = v
        ManifestTable.append(spark, root, batch(spark, p.get("append").asText))
      }),
      commit("merge", () => ManifestTable.mergeDV(spark, root,
        batch(spark, p.get("merge").asText), Seq("o_orderkey"))),
      commit("update", () => ManifestTable.updateWhereDV(spark, root,
        range(upd), Map(
          "o_totalprice" -> (col("o_totalprice") + upd.get(2).asLong),
          "o_orderstatus" -> lit("U")))),
      commit("delete", () => ManifestTable.deleteWhereDV(spark, root,
        p.get("delete").asScala.map(range).reduce(_ || _))),
      pruned,
      Call("feed_read", () => {
        val (a, b) = (roundStart, v)
        (a, b, ManifestTable.changes(spark, root, a, b, Seq("o_orderkey"))
          .groupBy("_change_type").count().collect())
      }, { case (a: Long, b: Long, rows: Array[Row] @unchecked) =>
        Map("from" -> a, "to" -> b, "counts" ->
          rows.map(x => x.getString(0) -> x.getLong(1)).toMap)
      }),
      read("asof_read", () => {
        val at = math.max(1L, v - back)
        (Map("asof" -> at), ManifestTable.readVersion(spark, root, at))
      }),
    ) ++ (if (r == 0) Seq(binPack, zOrder) else if (r % 2 == 1) Seq(binPack)
      else Seq(zOrder))
  }.map(c => c.copy(record = x => c.record(x) + ("round" -> r)))

  def pass(spark: SparkSession, p: Int): Seq[Call] = {
    val rs = if (p == 0) Seq(0) else Seq(2 * p - 1, 2 * p)
    if (rs.last >= rounds.size) Nil
    else rs.flatMap(r => round(spark, r))
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val rows = ManifestTable.readVersion(spark, root, v).collect()
    Map("root" -> root, "base_version" -> baseVersion, "final" ->
      Map("version" -> v, "rows" -> rows.length,
        "digest" -> Digest.of(rows, canon)))
  }
}
