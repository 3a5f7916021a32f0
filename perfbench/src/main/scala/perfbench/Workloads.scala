package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.backfill.Backfill
import graft.core.{TableMeta, Tables, Warehouse}
import graft.manifest.{Manifest, ModelNode}
import graft.materialize.{Build, DataTests, Materialize}

/** One operation of a workload's closed loop. `rows`/`inBytes` are the
  * generated input it consumes; `layer` names the engine module it calls. */
final case class Op(kind: String, layer: String, rows: Long, inBytes: Long)(
    val body: () => Unit)

/** A workload: set-up (repeatable, from a clean root), the op list of each
  * pass, and the export of its outputs for the correctness check.
  * `beforeOp` runs between ops, outside their timing. */
trait Workload {
  def setup(): Unit
  def passes: Int
  def pass(p: Int): Seq[Op]
  def beforeOp(op: Op, traced: Boolean): Unit = ()
  def finish(out: Path): Map[String, Any]
}

object Workloads {
  /** Reads the inputs and writes the result files (Scala maps and seqs). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def read(p: Path): JsonNode = json.readTree(Files.readAllBytes(p))

  def apply(name: String, spark: SparkSession, inputs: Path, root: Path, out: Path,
            trace: Trace, cpus: Int): Workload = name match {
    case "dml_mix" => new DmlMix(spark, inputs, root, trace, cpus)
    case "query_mix" => new QueryMix(spark, inputs, out, trace)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Bytes and files under `p` (the warehouse footprint). */
  def footprint(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
    finally s.close()
  }

  /** Rows and bytes of a generated fixture table (fixture.json). */
  final class Fixture(inputs: Path) {
    private val j = read(inputs.resolve("fixture.json"))
    def rows(t: String): Long = j.path(t).path("rows").asLong(0L)
    def bytes(t: String): Long = j.path(t).path("bytes").asLong(0L)
  }

  /** The result of a final-state export, for the checker. */
  def export(df: DataFrame, dir: Path): Unit =
    df.write.mode("overwrite").parquet(dir.toString)
}

import Workloads._

// ----------------------------------------------------------------- dml_mix

/** Row-level DML on a month-partitioned lineitem (zone maps, Bloom sidecar
  * on l_orderkey), a share issued as SQL text through the DSv2 catalog, a
  * stream-ingest op (land an event batch, then drain it with a streaming
  * consumer, one checkpoint across batches, into a partition-scoped upsert
  * sink), and a dbt job over the raw sources: a parallel backfill of the
  * incremental model, then a build of the models downstream of it, ending
  * in data tests. Every op commits. */
final class DmlMix(spark: SparkSession, inputs: Path, root: Path, trace: Trace, cpus: Int)
    extends Workload {
  private val whRoot = root.resolve("wh")
  private val ckpt = root.resolve("checkpoint")
  private val (ds, tbl) = ("tpch", "lineitem")
  private val ops: Seq[JsonNode] =
    Files.readAllLines(inputs.resolve("ops.jsonl")).asScala.map(json.readTree(_)).toSeq
  private val stream = read(inputs.resolve("stream.json"))
  private val rowsPerBatch = stream.get("rows_per_batch").asLong
  val passes: Int = math.min(ops.map(_.get("pass").asInt).max + 1,
    stream.get("batches").asInt - 1)
  private val fx = new Fixture(inputs)
  private val dbt = new DbtProject(inputs)
  private var wh: Warehouse = _
  private var landed = 0

  /** Lands lineitem and the first event batch, and deploys the dbt
    * project's incremental model over the set-up window. */
  def setup(): Unit = {
    deleteTree(whRoot)
    deleteTree(ckpt)
    wh = new Warehouse(spark, whRoot.toString)
    wh.overwrite(ds, tbl, Tables.load(spark, inputs.toString, tbl),
      TableMeta(partitionField = Some("ship_month"), partitionTransform = Some("months"),
        partitionSource = Some("l_shipdate")))
    wh.analyzeBloom(ds, tbl, Seq("l_orderkey"))
    wh.overwrite("raw", "events", batch(0))
    landed = 1
    dbt.build(wh).run(DbtProject.Fact, dbt.vars(dbt.setupWindow))
  }

  private def keys(o: JsonNode): Seq[Long] = o.get("keys").elements().asScala.map(_.asLong).toSeq
  private def src(o: JsonNode): DataFrame =
    spark.read.parquet(inputs.resolve(o.get("src").asText).toString)
  private val Key = Seq("l_orderkey", "l_linenumber")

  private def pruned(p: Int, considered: Int): Unit = {
    trace.count("core.fragments_pruned", p)
    trace.count("core.fragments_considered", considered)
  }

  private def opOf(o: JsonNode): Op = {
    val kind = o.get("kind").asText
    val rows = o.path("rows").asLong(0L)
    val bytes = if (o.has("src")) Files.size(inputs.resolve(o.get("src").asText)) else 0L
    val layer = if (kind.startsWith("sql_")) "sql" else "core"
    Op(kind, layer, rows, bytes) { () =>
      kind match {
        case "merge_small_mor" =>
          val r = trace.span("core.merge_into_mor")(wh.mergeIntoMor(ds, tbl, src(o), Key))
          pruned(r.pruned, r.pruned + r.rewritten.size)
        case "merge_large" =>
          val r = trace.span("core.merge_into")(wh.mergeInto(ds, tbl, src(o), Key))
          pruned(r.pruned, r.pruned + r.rewritten.size)
        case "delete_sparse_mor" =>
          val r = trace.span("core.delete_where_mor")(
            wh.deleteWhereMor(ds, tbl, col("l_orderkey").isin(keys(o): _*)))
          pruned(r.pruned, r.pruned + r.cleanCandidates + r.updated.size)
        case "sql_delete" =>
          trace.span("sql.dml_stmt")(spark.sql(
            s"DELETE FROM graft.$ds.$tbl WHERE l_orderkey IN (${keys(o).mkString(", ")})").collect())
        case "update" =>
          val r = trace.span("core.update_where")(wh.updateWhere(ds, tbl,
            Seq("l_quantity" -> (col("l_quantity") + 1)), col("l_orderkey").isin(keys(o): _*)))
          pruned(r.pruned, r.pruned + r.cleanCandidates + r.rewritten.size)
        case "compact" => // maintenance: compact, then re-index the new fragments
          trace.span("core.compact")(wh.compact(ds, tbl))
          trace.span("core.analyze_bloom")(wh.analyzeBloom(ds, tbl, Seq("l_orderkey")))
      }
    }
  }

  // ----------------------------------------------------------- stream ingest

  private def batchFile(k: Int): Path = inputs.resolve(f"batch_$k%05d.parquet")
  private def batch(k: Int): DataFrame =
    spark.read.parquet(batchFile(k).toString).withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** Drain everything appended since the checkpoint into the hourly sink. */
  private def drain(): Unit = {
    val agg = spark.readStream.format("graft-table")
      .option("root", whRoot.toString).option("dataset", "raw").option("table", "events")
      .load()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
    agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        trace.count("streaming.batches")
        trace.span("streaming.commit")(
          graft.streaming.StreamingIncremental.upsertHourly(wh, "mart", "hourly", b))
      }
      .start()
      .awaitTermination()
  }

  private def ingest(k: Int): Op =
    Op("stream_ingest", "streaming", rowsPerBatch, Files.size(batchFile(k))) { () =>
      trace.span("core.append")(wh.append("raw", "events", batch(k)))
      landed = k + 1
      trace.span("streaming.batch")(drain())
    }

  // --------------------------------------------------------------- dbt job

  /** Failed backfill tasks and their errors, over the whole run. */
  private var failedTasks = 0
  private val taskErrors = scala.collection.mutable.LinkedHashSet.empty[String]

  /** Backfill of the incremental model over the pass's range: chunked by
    * date, one task per chunk, each in its own session, run in parallel.
    * As in dbtwiz, the ranges of failed tasks are then run again, serially;
    * the op fails only if a retry fails too. Its input is the generated
    * lineitem rows shipped in the range, and their share of the lineitem
    * file's bytes. */
  private def backfill(p: Int): Op = {
    val r = dbt.backfillRange(p)
    Op("backfill", "backfill", r.rows,
      fx.bytes("lineitem") * r.rows / math.max(1L, fx.rows("lineitem"))) { () =>
      def run(ranges: Seq[(LocalDate, LocalDate)], par: Int) = trace.span("backfill.run") {
        val ctx = trace.context
        Backfill.runIndexed(ranges, par) { (_, chunk) =>
          trace.spanIn(ctx, "backfill.task") {
            val taskWh = new Warehouse(spark.newSession(), whRoot.toString)
            val vars = dbt.vars(DbtProject.Range(chunk._1, chunk._2, 0))
            trace.span("materialize.incremental")(dbt.build(taskWh).run(DbtProject.Fact, vars))
          }
        }
      }
      val results = run(Backfill.chunkDateRange(r.first, r.last, dbt.batchDays), parallelism)
      val failed = results.filterNot(_.success)
      trace.count("backfill.tasks", results.size)
      trace.count("backfill.failed_tasks", failed.size)
      failedTasks += failed.size
      taskErrors ++= failed.flatMap(_.error).map(_.take(200))
      if (failed.nonEmpty) {
        val again = run(Backfill.retryRanges(results), 1).filterNot(_.success)
        if (again.nonEmpty)
          throw new IllegalStateException(s"backfill retries failed: ${again.flatMap(_.error)}")
      }
    }
  }

  /** The run after a backfill: select the models downstream of the fact,
    * order them, render and materialize each in turn (the fact is served
    * from its table), then run the data tests. It reads no generated input. */
  private val dbtBuild: Op = Op("dbt_build", "materialize", 0L, 0L) { () =>
    val b = dbt.build(wh)
    val selected = trace.span("manifest.select")(dbt.manifest.select(s"${DbtProject.Mart}+"))
    val order = trace.span("materialize.topo_order")(b.topoOrder(selected))
    order.map(dbt.manifest.models).foreach { m =>
      trace.span("materialize.render")(b.render(m.name, Map.empty))
      trace.span(s"materialize.${m.materialized}")(b.run(m.name))
    }
    val failing = trace.span("materialize.data_tests")(DataTests.summarize(dbt.tests(wh)))
      .filter(_._2 > 0)
    if (failing.nonEmpty) throw new IllegalStateException(s"data tests failed: $failing")
  }

  val parallelism: Int = math.min(Backfill.MaxConcurrentTasks, cpus)

  /** The pass's row-level ops, one event batch, the dbt job, then compaction. */
  def pass(p: Int): Seq[Op] = {
    val (maintenance, rowOps) = ops.filter(_.get("pass").asInt == p).map(opOf)
      .partition(_.kind == "compact")
    (rowOps :+ ingest(p + 1) :+ backfill(p) :+ dbtBuild) ++ maintenance
  }

  /** Deletion-vector debt (masked rows) after the pass's merge-on-read ops,
    * before the copy-on-write merge and compaction rewrite what they mask. */
  override def beforeOp(op: Op, traced: Boolean): Unit =
    if (traced && op.kind == "merge_large") {
      trace.count("core.dv_debt_rows", wh.dvDebt(ds, tbl).map(_._2).sum.toDouble)
      trace.count("core.dv_debt_samples")
    }

  def finish(out: Path): Map[String, Any] = {
    export(wh.read(ds, tbl), out.resolve("final_lineitem"))
    export(wh.read("mart", "hourly"), out.resolve("sink_hourly"))
    export(wh.read("mart", DbtProject.Fact), out.resolve(DbtProject.Fact))
    export(wh.read("mart", DbtProject.Mart), out.resolve(DbtProject.Mart))
    export(new Materialize(wh).readView("mart", DbtProject.Top), out.resolve(DbtProject.Top))
    val hist = wh.history(ds, tbl).orderBy(col("version").desc).head()
    val (whBytes, whFiles) = footprint(whRoot)
    Map("snapshot_versions" -> hist.getAs[Number]("version").longValue,
      "batches_landed" -> landed, "warehouse_bytes" -> whBytes, "warehouse_files" -> whFiles,
      "backfill_parallelism" -> parallelism, "backfill_failed_tasks" -> failedTasks,
      "backfill_task_errors" -> taskErrors.toSeq.take(3),
      "live_tables" -> Seq("final_lineitem", "sink_hourly", DbtProject.Fact, DbtProject.Mart))
  }
}

// ------------------------------------------------------------- dbt project

/** A small dbt project over the generated lineitem and orders: two
  * ephemeral staging models, an incremental daily fact partitioned by ship
  * date, a table mart over it and a view on top. `dbt.json` holds the
  * ship-date windows of the fact: the set-up window and each pass's
  * backfill range. */
final class DbtProject(inputs: Path) {
  import DbtProject._

  private def node(name: String, schema: String, mat: String,
                   meta: Map[String, String] = Map.empty) =
    ModelNode(uniqueId = s"model.perfbench.$name", database = "perfbench", schema = schema,
      name = name, materialized = mat, meta = meta)

  val manifest: Manifest = Manifest(
    models = Seq(node("stg_lineitem", "staging", "ephemeral"),
      node("stg_orders", "staging", "ephemeral"),
      node(Fact, "mart", "incremental", Map("partition_field" -> "partitiondate")),
      node(Mart, "mart", "table"), node(Top, "mart", "view")),
    parentsByName = Map(Fact -> Seq("stg_lineitem", "stg_orders"), Mart -> Seq(Fact),
      Top -> Seq(Mart)))

  val bodies: Map[String, String] = Map(
    "stg_lineitem" -> """SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship_date, l_quantity,
                        |       l_extendedprice * (1 - l_discount) AS net
                        |FROM {{ source('tpch', 'lineitem') }}""".stripMargin,
    "stg_orders" -> "SELECT o_orderkey, o_orderpriority FROM {{ source('tpch', 'orders') }}",
    Fact -> """SELECT l.ship_date AS partitiondate, o.o_orderpriority, count(*) AS n_lines,
              |       sum(l.l_quantity) AS quantity, sum(l.net) AS revenue
              |FROM {{ ref('stg_lineitem') }} l JOIN {{ ref('stg_orders') }} o
              |  ON l.l_orderkey = o.o_orderkey
              |WHERE l.ship_date BETWEEN DATE'{{ var('data_interval_start') }}'
              |                      AND DATE'{{ var('data_interval_end') }}'
              |GROUP BY l.ship_date, o.o_orderpriority""".stripMargin,
    Mart -> """SELECT o_orderpriority, sum(n_lines) AS n_lines, sum(quantity) AS quantity,
              |       sum(revenue) AS revenue, count(DISTINCT partitiondate) AS n_days
              |FROM {{ ref('fct_daily_priority') }} GROUP BY o_orderpriority""".stripMargin,
    Top -> """SELECT o_orderpriority, revenue / sum(revenue) OVER () AS revenue_share
             |FROM {{ ref('mart_priority') }}""".stripMargin)

  /** A Build against `wh`; sources load from the generated inputs. */
  def build(wh: Warehouse): Build =
    new Build(wh, manifest, bodies, (_, t) => Tables.load(wh.spark, inputs.toString, t))

  def vars(r: Range): Map[String, String] =
    Map("data_interval_start" -> r.first.toString, "data_interval_end" -> r.last.toString)

  /** The fact's grain is unique; the mart's key is never null. */
  def tests(wh: Warehouse): Seq[(String, DataFrame)] = Seq(
    "unique_fact_day_priority" ->
      DataTests.unique(wh.read("mart", Fact), Seq("partitiondate", "o_orderpriority")),
    "not_null_mart_priority" -> DataTests.notNull(wh.read("mart", Mart), "o_orderpriority"))

  private val spec = read(inputs.resolve("dbt.json"))
  private def range(j: JsonNode): Range = Range(LocalDate.parse(j.get("first").asText),
    LocalDate.parse(j.get("last").asText), j.get("rows").asLong)
  val batchDays: Int = spec.get("batch_days").asInt
  val setupWindow: Range = range(spec.get("setup"))
  def backfillRange(p: Int): Range = range(spec.get("passes").get(p).get("backfill"))
}

object DbtProject {
  val Fact = "fct_daily_priority"
  val Mart = "mart_priority"
  val Top = "rpt_priority_share"

  /** Inclusive ship-date range and the generated lineitem rows in it. */
  final case class Range(first: LocalDate, last: LocalDate, rows: Long)
}

// --------------------------------------------------------------- query_mix

/** Read-only registry queries in a seeded order per pass. Every pass, cold
  * and timed, writes each result as Parquet (`results/p<pass>/<query>`),
  * and the oracle check reads them all: it covers the work the timed passes
  * do, staged artifacts reused from earlier passes included. */
final class QueryMix(spark: SparkSession, inputs: Path, out: Path, trace: Trace)
    extends Workload {
  private val spec = read(inputs.resolve("queries.json"))
  private val fx = new Fixture(inputs)
  private val modules: Map[String, String] = spec.get("modules").fields().asScala
    .map(e => e.getKey -> e.getValue.asText).toMap
  private val order: Seq[Seq[String]] = spec.get("passes").elements().asScala
    .map(_.elements().asScala.map(_.asText).toSeq).toSeq
  val passes: Int = order.size
  /** Fixture tables a query scans, from its analyzed plan (cached). */
  private val scanned = scala.collection.mutable.Map.empty[String, Seq[String]]

  def setup(): Unit =
    Tables.all.foreach(t => Tables.load(spark, inputs.toString, t).schema)

  private def tablesOf(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
    }.flatten.distinct.filter(Tables.all.contains)
  }

  def pass(p: Int): Seq[Op] = order(p).map { q =>
    val mod = modules(q)
    val ts = scanned.getOrElse(q, Nil)
    Op(q, mod, ts.map(fx.rows).sum, ts.map(fx.bytes).sum) { () =>
      trace.span(s"$mod.query") {
        val df = graft.SparkEntry.queries(q)(spark, inputs.toString)
        if (!scanned.contains(q)) scanned(q) = tablesOf(df)
        export(df, out.resolve("results").resolve(s"p$p").resolve(q))
      }
    }
  }

  def finish(out: Path): Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), json.writeValueAsBytes(
      order.flatten.distinct.flatMap(q => oracle.get(q).map(q -> _)).toMap))
    val art = graft.core.ArtifactTiming.snapshot
    Map("artifact_build_s" -> art.values.sum, "artifact_builds" -> art.size,
      "scanned" -> scanned.toMap, "live_tables" -> Nil)
  }
}
