package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.SparkEntry
import graft.lake.GraftTable

/** One workload: builds a fresh starting state per round and replays
  * the same operation script against it. Everything the workload
  * observes for the correctness check is written as `obs` records. */
abstract class Workload(val spark: SparkSession, val rec: Recorder,
    val out: JsonLines, val traced: Boolean) {
  def setup(round: Int): Unit
  def run(op: Array[String], i: Int): Unit
  /** Called after a round's last operation; returns round-level facts. */
  def finish(round: Int): Map[String, Any] = Map.empty

  protected def obs(i: Int, kind: String, fields: (String, Any)*): Unit =
    out.write(Seq[(String, Any)]("type" -> "obs", "round" -> rec.round,
      "i" -> i, "kind" -> kind) ++ fields: _*)

  protected def dirBytes(root: Path): Long =
    LakeStats.files(root).values.sum
}

/** Declared queries from SparkEntry.queries over the generated corpus:
  * builder, planning (executedPlan) and execution (collect) timed
  * apart. The warm-up round also dumps each result for the DuckDB
  * oracle compare; later rounds must reproduce the same rows. */
final class QueryCatalog(spark: SparkSession, rec: Recorder,
    out: JsonLines, traced: Boolean, inputs: String, dump: Path)
    extends Workload(spark, rec, out, traced) {
  private val queries = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql

  def setup(round: Int): Unit = ()

  def run(op: Array[String], i: Int): Unit = {
    val name = op(1)
    var rows: Array[Row] = null
    var schema: org.apache.spark.sql.types.StructType = null
    rec.op("query", i, "query" -> name, "family" -> op(2)) { ctx =>
      val build = queries.getOrElse(name,
        throw new NoSuchElementException(s"no declared query $name"))
      val df = ctx.phase("build")(build(spark, inputs))
      ctx.phase("plan")(df.queryExecution.executedPlan)
      rows = ctx.phase("exec")(df.collect())
      schema = df.schema
    }
    if (rows != null) {
      val digest = rows.map(_.toString).sorted.mkString("\n").hashCode
      obs(i, "query", "query" -> name, "rows" -> rows.length,
        "digest" -> digest)
      if (rec.round == 0) {
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(dump.resolve(name).toString)
        obs(i, "oracle", "query" -> name,
          "sql" -> oracle.getOrElse(name, ""))
      }
    }
  }
}

/** GraftTable API churn on a lineitem table: merge-on-read deletes,
  * copy-on-write updates, appends, key lookups, full aggregates, time
  * travel and metadata-table reads, with no maintenance. */
final class LakeChurn(spark: SparkSession, rec: Recorder, out: JsonLines,
    traced: Boolean, inputs: String, work: Path, deleteFileRows: String)
    extends Workload(spark, rec, out, traced) {
  private lazy val base = spark.read.parquet(s"$inputs/lineitem.parquet")
  private lazy val pool = spark.read.parquet(s"$inputs/churn_pool.parquet")
  private var root: Path = _
  private var t: GraftTable = _
  private val snaps = mutable.Map.empty[Int, Long]

  def setup(round: Int): Unit = {
    root = work.resolve(s"churn-r$round/lineitem")
    t = GraftTable.create(spark, root, "lineitem", base.schema, Map(
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "copy-on-write",
      "write.delete.rows-per-file" -> deleteFileRows))
    t.append(base)
    snaps.clear()
    snaps(-1) = t.currentSnapshot.get.snapshotId
  }

  private def aggregate(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"),
      sum("l_orderkey"))

  private def read(ctx: OpCtx, i: Int, kind: String, asOf: Int)(
      build: => DataFrame): Unit = {
    val df = aggregate(ctx.phase("build")(build))
    ctx.phase("plan")(df.queryExecution.executedPlan)
    val r = ctx.phase("exec")(df.collect()).head
    obs(i, kind, "as_of" -> asOf, "count" -> r.getLong(0),
      "sum_qty" -> Option(r.get(1)).getOrElse(0.0),
      "sum_price" -> Option(r.get(2)).getOrElse(0.0),
      "sum_key" -> Option(r.get(3)).getOrElse(0L))
  }

  def run(op: Array[String], i: Int): Unit = {
    val kind = op(0)
    val stats = if (traced) LakeStats.of(spark, root) else Map.empty
    val before = if (traced) LakeStats.files(root) else Map.empty[String, Long]
    val ok = rec.op(kind, i, "lake" -> stats) { ctx =>
      kind match {
        case "append" =>
          val (lo, hi) = (op(1).toLong, op(2).toLong)
          ctx.phase("lake.append")(t.append(pool.where(
            col("l_orderkey") >= lo && col("l_orderkey") < hi)))
        case "delete" =>
          ctx.phase("lake.delete")(t.delete(col("l_orderkey") === op(1).toLong))
        case "update" =>
          ctx.phase("lake.update")(t.update(col("l_orderkey") === op(1).toLong,
            Map("l_quantity" -> (col("l_quantity") + 1))))
        case "lookup" =>
          read(ctx, i, kind, i)(t.readWhere(col("l_orderkey") === op(1).toLong))
        case "scan" => read(ctx, i, kind, i)(t.read())
        case "travel" =>
          val j = op(1).toInt
          read(ctx, i, kind, j)(t.readAt(snaps(j)))
        case "meta" =>
          val df = ctx.phase("build")(op(1) match {
            case "snapshots" => t.snapshots
            case "files" => t.files
            case "history" => t.history
          })
          ctx.phase("plan")(df.queryExecution.executedPlan)
          val n = ctx.phase("exec")(df.collect()).length
          obs(i, "meta", "table" -> op(1), "rows" -> n)
      }
    }
    if (ok && Set("append", "delete", "update").contains(kind)) {
      snaps(i) = t.currentSnapshot.get.snapshotId
      if (traced) out.write(Seq[(String, Any)]("type" -> "written",
        "round" -> rec.round, "i" -> i, "kind" -> kind) ++
        LakeStats.written(before, LakeStats.files(root)): _*)
    }
  }

  override def finish(round: Int): Map[String, Any] =
    Map("stored_mb" -> dirBytes(root) / 1048576.0)
}

/** The permanent-erase path through spark.sql over GraftSqlCatalog:
  * INSERT batches, subject-access SELECTs, and erase requests that run
  * the DML and then the four maintenance CALLs. Around each erase the
  * table's files are read directly, without GraftLake, for the
  * subject's key and PII value. */
final class EraseSql(spark: SparkSession, rec: Recorder, out: JsonLines,
    traced: Boolean, inputs: String, warehouse: Path)
    extends Workload(spark, rec, out, traced) {
  private var ns: String = _

  private val ddl = "o_orderkey BIGINT, o_custkey BIGINT, c_name STRING, " +
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"

  def setup(round: Int): Unit = {
    spark.read.parquet(s"$inputs/pii_base.parquet")
      .createOrReplaceTempView("pii_base")
    spark.read.parquet(s"$inputs/pii_pool.parquet")
      .createOrReplaceTempView("pii_pool")
    ns = s"r$round"
    spark.sql(s"CREATE NAMESPACE graft.$ns")
    for ((t, mode) <- Seq("mor" -> "merge-on-read", "cow" -> "copy-on-write")) {
      spark.sql(s"CREATE TABLE graft.$ns.$t ($ddl) USING graft " +
        s"TBLPROPERTIES ('write.delete.mode'='$mode', " +
        s"'write.update.mode'='$mode')")
      spark.sql(s"INSERT INTO graft.$ns.$t SELECT * FROM pii_base")
    }
  }

  private def root(t: String): Path = warehouse.resolve(ns).resolve(t)

  /** Run one statement (and `act` on its result) as a timed phase; the
    * traced run also books the statement's analysis phase (for commands
    * that phase includes their execution). */
  private def sql[A](ctx: OpCtx, phase: String, text: String)(
      act: DataFrame => A): A =
    ctx.phase(phase) {
      val df = spark.sql(text)
      if (traced) ctx.extra(s"$phase.analysis_s") =
        df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs / 1e3).getOrElse(0.0)
      act(df)
    }

  private def live(i: Int, table: String): Unit = {
    val r = spark.sql(s"SELECT count(*), sum(o_totalprice), count(c_name), " +
      s"sum(o_custkey) FROM graft.$ns.$table").collect().head
    obs(i, "live", "table" -> table, "count" -> r.getLong(0),
      "sum_price" -> Option(r.get(1)).getOrElse(0.0),
      "names" -> r.getLong(2), "sum_cust" -> Option(r.get(3)).getOrElse(0L))
  }

  def run(op: Array[String], i: Int): Unit = {
    val table = op(1)
    val name = s"graft.$ns.$table"
    val stats = if (traced) LakeStats.of(spark, root(table)) else Map.empty
    op(0) match {
      case "insert" =>
        rec.op("insert", i, "table" -> table, "lake" -> stats) { ctx =>
          sql(ctx, "sql.insert", s"INSERT INTO $name SELECT * FROM pii_pool " +
            s"WHERE o_orderkey >= ${op(2)} AND o_orderkey < ${op(3)}")(identity)
        }
      case "select" =>
        rec.op("select", i, "table" -> table, "lake" -> stats) { ctx =>
          val rows = sql(ctx, "sql.select",
            s"SELECT * FROM $name WHERE o_custkey = ${op(2)}")(_.collect())
          obs(i, "select", "table" -> table, "subject" -> op(2).toLong,
            "count" -> rows.length,
            "sum_price" -> rows.map(_.getAs[Double]("o_totalprice")).sum,
            "names" -> rows.count(r => !r.isNullAt(r.fieldIndex("c_name"))))
        }
      case "erase" =>
        val (mode, key, pii) = (op(2), op(3).toLong, op(4))
        scan(i, table, "before", key, pii)
        val before = LakeStats.files(root(table))
        val qual = s"$ns.$table"
        rec.op("erase", i, "table" -> table, "mode" -> mode,
            "lake" -> stats) { ctx =>
          if (mode == "delete") sql(ctx, "sql.delete",
            s"DELETE FROM $name WHERE o_custkey = $key")(identity)
          else sql(ctx, "sql.update",
            s"UPDATE $name SET c_name = NULL WHERE o_custkey = $key")(identity)
          sql(ctx, "call.rewrite_data_files",
            "CALL graft.system.rewrite_data_files(table => " +
              s"'$qual', rewrite_all => true, " +
              "target_file_size_bytes => 134217728)")(_.collect())
          sql(ctx, "call.rewrite_position_delete_files",
            "CALL graft.system.rewrite_position_delete_files(" +
              s"table => '$qual')")(_.collect())
          val cutoff = Instant.ofEpochMilli(System.currentTimeMillis() + 1)
          sql(ctx, "call.expire_snapshots",
            "CALL graft.system.expire_snapshots(table => " +
              s"'$qual', older_than => TIMESTAMP '$cutoff', retain_last => 1)"
          )(_.collect())
          val orphans = sql(ctx, "call.remove_orphan_files",
            "CALL graft.system.remove_orphan_files(table => " +
              s"'$qual', older_than => TIMESTAMP '$cutoff', force => true)"
          )(_.collect().length)
          ctx.extra("lake.orphans_removed") = orphans.toDouble
        }
        if (traced) out.write(Seq[(String, Any)]("type" -> "written",
          "round" -> rec.round, "i" -> i, "kind" -> "erase") ++
          LakeStats.written(before, LakeStats.files(root(table))): _*)
        scan(i, table, "after", key, pii)
        live(i, table)
    }
  }

  /** Read every parquet file under the table root with parquet-java
    * (no GraftLake, no Spark) and count rows holding the subject's key
    * or PII value; grep every metadata file for the PII value's bytes. */
  private def scan(i: Int, table: String, when: String, key: Long,
      pii: String): Unit = {
    val files = LakeStats.files(root(table)).keys.toSeq.sorted
    var keyHits, piiHits, metaHits = 0L
    files.filter(_.endsWith(".parquet")).foreach { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f)).build()
      try {
        var g: Group = reader.read()
        while (g != null) {
          val t = g.getType
          if (t.containsField("o_custkey") &&
              g.getFieldRepetitionCount("o_custkey") > 0 &&
              g.getLong("o_custkey", 0) == key) keyHits += 1
          if (t.containsField("c_name") &&
              g.getFieldRepetitionCount("c_name") > 0 &&
              g.getString("c_name", 0) == pii) piiHits += 1
          g = reader.read()
        }
      } finally reader.close()
    }
    val needle = pii.getBytes("UTF-8")
    files.filterNot(_.endsWith(".parquet")).foreach { f =>
      val bytes = Files.readAllBytes(Path.of(f))
      if (indexOf(bytes, needle) >= 0) metaHits += 1
    }
    obs(i, "scan", "table" -> table, "when" -> when, "subject" -> key,
      "key_hits" -> keyHits, "pii_hits" -> piiHits, "meta_hits" -> metaHits,
      "files" -> files.size)
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = 0
    while (i + needle.length <= hay.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  override def finish(round: Int): Map[String, Any] =
    Map("stored_mb" -> (dirBytes(root("mor")) + dirBytes(root("cow"))) /
      1048576.0)
}
