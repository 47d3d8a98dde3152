package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators._

object Workloads {
  val Modules = Seq("Relational", "Aggregates", "Windows", "Functions",
    "Extensions", "LlmOps", "TrainOps", "Streaming")

  /** Per-layer metrics that are the mean duration of one span per call. */
  val SpanMetrics: Seq[(String, String)] =
    (for (m <- Modules; p <- Seq("build", "plan", "exec"))
      yield s"operators.$m.${p}_s" -> s"operators.$m.$p") ++ Seq(
    "functions.floatDot.exec_s" -> "functions.floatDot.exec",
    "sources.insert_s" -> "sources.insert", "sources.merge_s" -> "sources.merge",
    "sources.update_s" -> "sources.update", "sources.delete_s" -> "sources.delete",
    "sources.compact_s" -> "sources.compact", "sources.scan_s" -> "sources.scan",
    "sources.lookup_s" -> "sources.lookup",
    "sources.sink_s" -> "sources.sink",
    "plans.MergeSql.build_s" -> "plans.MergeSql.build",
    "plans.MergeSql.exec_s" -> "plans.MergeSql.exec",
    "plans.DmlSql.build_s" -> "plans.DmlSql.build",
    "plans.DmlSql.exec_s" -> "plans.DmlSql.exec")

  /** Every per-layer metric a traced run reports, in output order. A metric
    * of a layer the workload does not run reads 0. */
  val PerLayer: Seq[String] = SpanMetrics.map(_._1) ++ Seq(
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.task_wait_s", "spark.task_run_s", "spark.task_cpu_s",
    "spark.core_busy_ratio", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_mb",
    "functions.floatDot.rows_per_s",
    "Tables.shared_build_s", "Tables.fixture_build_s", "Tables.cached_mb",
    "stream.addBatch_ms", "stream.queryPlanning_ms", "stream.walCommit_ms",
    "stream.commitOffsets_ms", "stream.latestOffset_ms", "stream.state_commit_ms",
    "stream.state_rows_peak", "stream.state_mem_mb_peak", "stream.rows_evicted",
    "stream.batches", "stream.batch_p50_ms", "stream.batch_p90_ms",
    "stream.events_per_s",
    "sources.files_written", "sources.bytes_written_mb",
    "sources.files_untouched_ratio", "sources.delta_files_live",
    "sources.write_amp", "sources.space_amp",
    "jvm.heap_live_mb", "jvm.heap_growth_mb", "trace.overhead_ratio", "error_rate")

  // Read-only batch keys of the five star-schema modules: each has a DuckDB
  // oracle and writes nothing (no fixture cache, no scratch directory). One
  // or two per module: scan with pushdown, join, aggregate, window, scalar
  // functions and a UDAF.
  val EtlKeys = Seq(
    "a3_scan_filter_pushdown", "c1_join_broadcast_equi", "d1_agg_groupby_pricing",
    "e1_win_topk_per_group", "h1_str_funcs", "k2_udaf_aggregator")

  // LLM-pipeline keys over the near-duplicate corpus: exact and
  // n-gram-Jaccard dedup and BM25 retrieval. The n-gram-Jaccard pairs and
  // the BM25 index are shared frames: their cold build lands in set-up, the
  // timed passes read them warm.
  val CorpusKeys = Seq("j1_dedup_exact", "l9_dedup_ngram_jaccard", "l26_bm25_topk")

  def apply(name: String, input: String, runDir: String, seed: Long): Workload =
    name match {
      case "batch_read" => new BatchRead(input)
      case "lake_write" => new LakeWorkload(input, runDir, seed)
      case other => sys.error(s"unknown workload $other")
    }

  private lazy val queries = SparkEntry.queries
  private lazy val moduleOf: Map[String, String] = Seq(
    "Relational" -> Relational.queries, "Aggregates" -> Aggregates.queries,
    "Windows" -> Windows.queries, "Functions" -> Functions.queries,
    "Extensions" -> Extensions.queries, "LlmOps" -> LlmOps.queries,
    "TrainOps" -> TrainOps.queries, "Streaming" -> Streaming.queries)
    .flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap

  /** One `SparkEntry.queries` key: build the frame, plan it, execute it. */
  final class KeyOp(key: String, dir: String) extends Op(key) {
    private val m = moduleOf(key)
    def run(c: Ctx): Unit = {
      val df = c.tr.span(s"operators.$m.build")(queries(key)(c.spark, dir))
      c.tr.span(s"operators.$m.plan")(df.queryExecution.executedPlan)
      c.tr.span(s"operators.$m.exec")(df.queryExecution.toRdd.count())
    }
    def dump(spark: SparkSession, out: String): Unit =
      queries(key)(spark, dir).coalesce(1).write.parquet(s"$out/$key")
  }

  def deleteRec(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  /** Adds to the manifest the checker reads: one line per check,
    * `kind<TAB>name`. */
  def manifest(out: String, lines: Seq[String]): Unit = {
    new File(out).mkdirs()
    java.nio.file.Files.writeString(new File(out, "manifest.tsv").toPath,
      lines.mkString("", "\n", "\n"), java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Runs `f` over `xs` on as many threads as Spark has cores; Spark runs
    * their jobs concurrently. */
  def par[A](spark: SparkSession, xs: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Seeded query vectors scored against every embedding with the
    * codegen'd `float_dot`; top-10 per query. */
  final class FloatDotTopK(dir: String) extends Op("floatdot_topk") {
    def frame(spark: SparkSession): DataFrame =
      spark.read.parquet(s"$dir/queries.parquet")
        .crossJoin(spark.read.parquet(s"$dir/embeddings.parquet"))
        .select(col("q_id"), col("vec_id"),
          graft.functions.VectorFunctions.floatDot(col("q"), col("embedding")).as("score"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rk") <= 10)
    def run(c: Ctx): Unit =
      c.tr.span("functions.floatDot.exec")(frame(c.spark).queryExecution.toRdd.count())
  }

  /** Read-only batch: the star-schema keys, the corpus keys and the
    * float_dot top-k, in one closed loop. */
  final class BatchRead(dir: String) extends Workload {
    private val keys = EtlKeys ++ CorpusKeys
    private val keyOps = keys.map(k => new KeyOp(k, dir))
    private val dot = new FloatDotTopK(dir)
    val ops: IndexedSeq[Op] = (keyOps :+ dot).toIndexedSeq
    override def readOnly = true

    def check(spark: SparkSession, out: String): Unit = {
      manifest(out, keys.map(k => s"oracle\t$k") :+ s"topk\t${dot.name}")
      val sql = SparkEntry.oracleSql
      java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath,
        Json.obj(keys.map(k => k -> Json.str(sql(k)))))
      par(spark, keyOps)(_.dump(spark, out))
      dot.frame(spark).coalesce(1).write.parquet(s"$out/${dot.name}")
    }

    override def metrics(spark: SparkSession, opMedianS: Map[String, Double]) = {
      val pairs = spark.read.parquet(s"$dir/queries.parquet").count() *
        spark.read.parquet(s"$dir/embeddings.parquet").count()
      Map("functions.floatDot.rows_per_s" -> pairs / opMedianS(dot.name))
    }
  }

  // ---------------------------------------------------------------- stream

  /** Streaming ingest into the lake: a long-running query reads a landing
    * directory (`maxFilesPerTrigger` 1) through `Streaming.tumblingAgg` and
    * publishes through the `ParquetDirSink` lake sink. One operation lands
    * the next time slice and waits until the query has committed it, so the
    * caller is closed-loop and each operation pays the micro-batch fixed
    * costs (offset log, state store commit, watermark eviction, sink epoch
    * commit). For the check, two far-future sentinel slices push the
    * watermark past every real window; the lake over the real slices is then
    * final and must equal the batch aggregation over the same slices. */
  final class StreamIngest(dir: String, runDir: String) {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    private def files(sub: String) = Option(new File(s"$dir/$sub").list())
      .getOrElse(Array.empty).sorted.map(b => s"$dir/$sub/$b/part-0.parquet")
    private val slices = files("slices")
    private val sentinels = files("sentinel")
    private var generation = 0
    private var landed = 0
    private var landing: File = _
    private var query: org.apache.spark.sql.streaming.StreamingQuery = _
    private def lakeDir = s"$runDir/stream/g$generation/lake"
    private val progress =
      mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    private var tracedRows = 0L
    private var tracedS = 0.0

    private def agg(ev: DataFrame): DataFrame =
      Streaming.tumblingAgg(ev)
        .select(unix_micros(col("window.start")).as("w_start_us"), col("event_type"), col("cnt"))

    def prepare(spark: SparkSession): Unit = {
      generation += 1
      landed = 0
      val base = s"$runDir/stream/g$generation"
      landing = new File(s"$base/landing"); landing.mkdirs()
      val ev = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(landing.getPath)
      query = agg(ev).writeStream.format("graft.sources.ParquetDirSink")
        .option("path", lakeDir).option("partitionBy", "event_type")
        .option("checkpointLocation", s"$base/ckpt").outputMode("append").start()
    }

    def teardown(): Unit = if (query != null) query.stop()

    /** Lands one slice file and waits until the query has committed it. */
    private def land(path: String): Unit = {
      landed += 1
      java.nio.file.Files.copy(new File(path).toPath,
        new File(landing, f"part-$landed%05d.parquet").toPath)
      query.processAllAvailable()
    }

    final class Ingest extends Op("stream.ingest") {
      def run(c: Ctx): Unit = {
        require(landed < slices.length, s"all ${slices.length} slices already landed")
        val before = query.recentProgress.length
        val t0 = System.nanoTime()
        c.tr.span("operators.Streaming.exec")(land(slices(landed)))
        val s = (System.nanoTime() - t0) / 1e9
        if (c.tr.on) {
          val got = query.recentProgress.drop(before)
          progress ++= got
          tracedRows += got.map(_.numInputRows).sum
          tracedS += s
        }
      }
    }

    def check(spark: SparkSession, out: String): Unit = {
      val real = spark.read.schema(schema).parquet(slices.take(landed): _*)
      sentinels.foreach(land)
      val sentinelUs = spark.read.schema(schema).parquet(sentinels: _*)
        .agg(min(unix_micros(col("ts")))).head().getLong(0)
      manifest(out, Seq("equal\tstream.ingest"))
      spark.read.parquet(lakeDir).select("w_start_us", "event_type", "cnt")
        .filter(col("w_start_us") < sentinelUs)
        .coalesce(1).write.parquet(s"$out/stream.ingest/actual")
      agg(real).coalesce(1).write.parquet(s"$out/stream.ingest/expected")
    }

    def metrics: Map[String, Double] = {
      def d(pr: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def mean(k: String) =
        if (progress.isEmpty) 0.0 else progress.map(d(_, k)).sum / progress.size
      val ops = progress.flatMap(_.stateOperators)
      val trig = progress.map(d(_, "triggerExecution")).sorted.toSeq
      Map(
        "stream.addBatch_ms" -> mean("addBatch"),
        "stream.queryPlanning_ms" -> mean("queryPlanning"),
        "stream.walCommit_ms" -> mean("walCommit"),
        "stream.commitOffsets_ms" -> mean("commitOffsets"),
        "stream.latestOffset_ms" -> mean("latestOffset"),
        "stream.state_commit_ms" ->
          (if (progress.isEmpty) 0.0 else ops.map(_.commitTimeMs.toDouble).sum / progress.size),
        "stream.state_rows_peak" -> ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
        "stream.state_mem_mb_peak" ->
          ops.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0),
        "stream.rows_evicted" -> ops.map(_.numRowsRemoved.toDouble).sum,
        "stream.batches" -> progress.size.toDouble,
        "stream.batch_p50_ms" -> Main.quantile(trig, 0.5),
        "stream.batch_p90_ms" -> Main.quantile(trig, 0.9),
        "stream.events_per_s" -> (if (tracedS > 0) tracedRows / tracedS else 0.0))
    }
  }

  // ------------------------------------------------------------------ lake

  /** Seeded change batches applied through the write layer's public surface:
    * SQL INSERT / MERGE / UPDATE / DELETE against a copy-on-write
    * (`CowDeleteCatalog`) and a merge-on-read (`MorDeltaCatalog`) table, MoR
    * compaction once per pass, the MERGE/UPDATE lowerings of `plans`, and a
    * DSv2 batch sink, interleaved with scans of the tables just written.
    * An in-memory model replays every statement to give the expected state. */
  final class LakeWorkload(dir: String, runDir: String, seed: Long) extends Workload {
    type Model = mutable.LinkedHashMap[Long, (String, Double)]
    private val stream = new StreamIngest(dir, runDir)
    private val lake = new File(s"$runDir/lake")
    private val changes = Option(new File(dir).list()).getOrElse(Array.empty)
      .filter(_.startsWith("change_")).sorted.map(n => s"$dir/$n")
    private var base: Array[(Long, String, Double)] = Array.empty
    private val models = mutable.Map.empty[String, Model]
    private val calls = mutable.Map.empty[String, Int].withDefaultValue(0)
    private var userBytes = 0.0
    private var writtenBytes = 0.0
    private val spaceAmp = mutable.ArrayBuffer.empty[Double]
    private val untouched = mutable.ArrayBuffer.empty[Double]
    private var filesWritten = 0.0
    private var writeStmts = 0
    private var deltaLive = 0.0
    private var sinkSeq = 0
    private val tableNames = Seq("cow", "mor")

    private def tableDir(t: String) = new File(lake, s"$t/t")
    private def lineBytes(k: Long, st: String, total: Double) =
      s"$k,$st,$total\n".length.toDouble

    override def prepare(spark: SparkSession): Unit = {
      deleteRec(lake)
      calls.clear()
      sinkSeq = 0
      base = spark.read.parquet(s"$dir/base.parquet").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
      val per = math.ceil(base.length / 8.0).toInt
      for (t <- tableNames) {
        val d = tableDir(t); d.mkdirs()
        base.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
          java.nio.file.Files.write(
            new File(d, s"part-$i-${chunk.head._1}-${chunk.last._1}.csv").toPath,
            java.util.Arrays.asList(chunk.map { case (k, s, v) => s"$k,$s,$v" }: _*))
        }
        models(t) = mutable.LinkedHashMap.from(base.map { case (k, s, v) => k -> (s, v) })
      }
      spark.conf.set("spark.sql.catalog.cow", classOf[graft.sources.CowDeleteCatalog].getName)
      spark.conf.set("spark.sql.catalog.cow.root", new File(lake, "cow").getPath)
      spark.conf.set("spark.sql.catalog.mor", classOf[graft.sources.MorDeltaCatalog].getName)
      spark.conf.set("spark.sql.catalog.mor.root", new File(lake, "mor").getPath)
      spark.read.parquet(s"$dir/base.parquet").createOrReplaceTempView("lake_base")
      stream.prepare(spark)
    }

    override def teardown(spark: SparkSession): Unit = stream.teardown()

    private def change(i: Int): Array[(Long, String, Double)] =
      cache.getOrElseUpdate(i, SparkSession.active.read.parquet(changes(i % changes.length))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))))
    private val cache = mutable.Map.empty[Int, Array[(Long, String, Double)]]

    private def srcView(spark: SparkSession, name: String, rows: Seq[(Long, String, Double)]): Unit = {
      import spark.implicits._
      rows.toDF("k", "st", "total").createOrReplaceTempView(name)
    }

    private def files(t: String): Map[String, (Long, Long)] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(tableDir(t)).map(f => f.getPath -> (f.length, f.lastModified)).toMap
    }

    /** Runs one write statement; in traced passes also measures what it
      * wrote: new or changed files and bytes, and the share of the table's
      * files it left byte-identical. */
    private def write(c: Ctx, t: String, span: String, user: Double)(body: => Unit): Unit = {
      val before = if (c.tr.on) files(t) else Map.empty[String, (Long, Long)]
      c.tr.span(span)(body)
      if (c.tr.on) {
        val after = files(t)
        val changed = after.filter { case (p, st) => !before.get(p).contains(st) }
        filesWritten += changed.size
        writtenBytes += changed.values.map(_._1).sum
        userBytes += user
        writeStmts += 1
        val kept = before.count { case (p, st) => after.get(p).contains(st) }
        untouched += (if (before.isEmpty) 0.0 else kept.toDouble / before.size)
      }
    }

    private def next(op: String): Int = { val i = calls(op); calls(op) = i + 1; i }
    private def offset(i: Int, kind: Int) = 10000000L * (2L * i + kind + 1)

    final class Stmt(t: String, kind: String) extends Op(s"$t.$kind") {
      def run(c: Ctx): Unit = {
        val spark = c.spark
        val m = models(t)
        val i = next(name)
        val rnd = new Random(seed * 31 + i * 7 + kind.hashCode)
        kind match {
          case "insert" =>
            val rows = change(i).toSeq.takeRight(change(i).length / 2)
              .map { case (k, st, v) => (k + offset(i, 0), st, v) }
            srcView(spark, "lake_ins", rows)
            write(c, t, "sources.insert", rows.map(r => lineBytes(r._1, r._2, r._3)).sum) {
              spark.sql(s"INSERT INTO $t.t SELECT k, st, total FROM lake_ins")
            }
            rows.foreach { case (k, st, v) => m(k) = (st, v) }
          case "merge" =>
            val rows = change(i).toSeq.map { case (k, st, v) =>
              if (k < base.length) (k, st, v) else (k + offset(i, 1), st, v) }
            srcView(spark, "lake_mrg", rows)
            write(c, t, "sources.merge", rows.map(r => lineBytes(r._1, r._2, r._3)).sum) {
              spark.sql(s"""MERGE INTO $t.t t USING lake_mrg s ON t.k = s.k
                WHEN MATCHED THEN UPDATE SET st = s.st, total = s.total
                WHEN NOT MATCHED THEN INSERT (k, st, total) VALUES (s.k, s.st, s.total)""")
            }
            rows.foreach { case (k, st, v) => m(k) = (st, v) }
          case "update" =>
            val r = rnd.nextInt(17)
            val hit = m.filter(_._1 % 17 == r)
            write(c, t, "sources.update",
                hit.map { case (k, (st, v)) => lineBytes(k, st, v + 1.25) }.sum) {
              spark.sql(s"UPDATE $t.t SET total = total + 1.25 WHERE k % 17 = $r")
            }
            hit.foreach { case (k, (st, v)) => m(k) = (st, v + 1.25) }
          case "delete" =>
            val lo = rnd.nextInt(math.max(1, base.length - base.length / 50)).toLong
            val hi = lo + base.length / 50
            val hit = m.keys.filter(k => k >= lo && k < hi).toSeq
            write(c, t, "sources.delete",
                hit.map(k => lineBytes(k, m(k)._1, m(k)._2)).sum) {
              spark.sql(s"DELETE FROM $t.t WHERE k >= $lo AND k < $hi")
            }
            hit.foreach(m.remove)
          case "scan" =>
            c.tr.span("sources.scan")(scan(spark, t).collect())
          case "lookup" =>
            c.tr.span("sources.lookup")(lookup(spark, t, Seq(rnd.nextInt(base.length).toLong)).collect())
          case "compact" =>
            write(c, t, "sources.compact", 0.0) {
              graft.sources.MorCompaction.compact(tableDir(t))
            }
        }
      }
    }

    /** Point read: the key predicate lets the scan prune files by stats. */
    def lookup(spark: SparkSession, t: String, keys: Seq[Long]): DataFrame =
      spark.sql(s"SELECT k, st, total FROM $t.t WHERE k IN (${keys.mkString(", ")})")

    def scan(spark: SparkSession, t: String): DataFrame =
      spark.sql(s"""SELECT st, count(*) AS n,
        CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        FROM $t.t GROUP BY st""")

    /** `plans.MergeSql.mergeResult` over the base view and a change batch. */
    final class PlanMerge extends Op("plans.merge") {
      var last = -1
      def run(c: Ctx): Unit = {
        val i = next(name); last = i
        srcView(c.spark, "lake_src", change(i).toSeq)
        val df = c.tr.span("plans.MergeSql.build")(graft.plans.MergeSql.mergeResult(c.spark,
          """MERGE INTO lake_base t USING lake_src s ON t.k = s.k
             WHEN MATCHED THEN UPDATE SET st = s.st, total = s.total
             WHEN NOT MATCHED THEN INSERT *"""))
        c.tr.span("plans.MergeSql.exec")(df.queryExecution.toRdd.count())
      }
    }

    /** `plans.DmlSql.updateResult` over the base view. */
    final class PlanUpdate extends Op("plans.update") {
      def run(c: Ctx): Unit = {
        next(name)
        val df = c.tr.span("plans.DmlSql.build")(graft.plans.DmlSql.updateResult(c.spark,
          "UPDATE lake_base SET total = total + 1.25 WHERE k % 17 = 3"))
        c.tr.span("plans.DmlSql.exec")(df.queryExecution.toRdd.count())
      }
    }

    /** A change batch through the `CsvDirSink` DSv2 batch write. */
    final class SinkWrite extends Op("sink.csv") {
      def run(c: Ctx): Unit = {
        val i = next(name)
        sinkSeq += 1
        val path = s"$lake/sink/$sinkSeq"
        srcView(c.spark, "lake_sink_src", change(i).toSeq)
        c.tr.span("sources.sink")(c.spark.table("lake_sink_src").write
          .format("graft.sources.CsvDirSink").option("path", path).mode("append").save())
        require(new File(path, "_graft_committed").exists(), s"sink commit marker missing in $path")
        if (sinkSeq > 1) deleteRec(new File(s"$lake/sink/${sinkSeq - 1}"))
      }
    }

    private val planMerge = new PlanMerge
    val ops: IndexedSeq[Op] = (tableNames.flatMap(t =>
      Seq("insert", "merge", "update", "delete", "scan", "lookup").map(k => new Stmt(t, k))) ++
      Seq(new Stmt("mor", "compact"), planMerge, new PlanUpdate, new SinkWrite,
        new stream.Ingest)).toIndexedSeq

    override def passEnd(c: Ctx): Unit = {
      val live = models.values.flatMap(_.iterator.map { case (k, (s, v)) => lineBytes(k, s, v) }).sum
      val disk = tableNames.flatMap(t => files(t).values.map(_._1)).sum.toDouble
      spaceAmp += disk / live
      deltaLive = graft.sources.MorDeltas.deltaFiles(tableDir("mor")).size.toDouble
    }

    def check(spark: SparkSession, out: String): Unit = {
      import spark.implicits._
      stream.check(spark, out)
      manifest(out, tableNames.flatMap(t =>
          Seq(s"equal\t$t.state", s"equal\t$t.scan", s"equal\t$t.lookup")) ++
        Seq("equal\tplans.merge", "equal\tplans.update", "equal\tsink.csv"))
      def rows(rs: Iterable[(Long, String, Double)]) = rs.toSeq.toDF("k", "st", "total")
      // the lowerings, against the same statements applied to the base rows
      val i = math.max(planMerge.last, 0)
      srcView(spark, "lake_src", change(i).toSeq)
      val merged = mutable.LinkedHashMap.from(base.map { case (k, s, v) => k -> (s, v) })
      change(i).foreach { case (k, s, v) => merged(k) = (s, v) }
      val probe = (0L until base.length.toLong by math.max(1L, base.length / 50L)).toSeq
      val sinkSchema = StructType(Seq(StructField("k", LongType),
        StructField("st", StringType), StructField("total", DoubleType)))
      val writes: Seq[(String, DataFrame)] = tableNames.flatMap { t =>
        val m = models(t)
        Seq(s"$t.state/actual" -> spark.table(s"$t.t").select("k", "st", "total"),
          s"$t.state/expected" -> rows(m.map { case (k, (s, v)) => (k, s, v) }),
          s"$t.scan/actual" -> scan(spark, t),
          s"$t.lookup/actual" -> lookup(spark, t, probe),
          s"$t.lookup/expected" -> rows(probe.flatMap(k => m.get(k).map { case (s, v) => (k, s, v) })),
          s"$t.scan/expected" -> m.toSeq.groupBy(_._2._1).map { case (st, rs) =>
            (st, rs.size.toLong, rs.map(r => BigDecimal(r._2._2)).sum.toDouble)
          }.toSeq.toDF("st", "n", "sum_total"))
      } ++ Seq(
        "plans.merge/actual" -> graft.plans.MergeSql.mergeResult(spark,
          """MERGE INTO lake_base t USING lake_src s ON t.k = s.k
             WHEN MATCHED THEN UPDATE SET st = s.st, total = s.total
             WHEN NOT MATCHED THEN INSERT *"""),
        "plans.merge/expected" -> rows(merged.map { case (k, (s, v)) => (k, s, v) }),
        "plans.update/actual" -> graft.plans.DmlSql.updateResult(spark,
          "UPDATE lake_base SET total = total + 1.25 WHERE k % 17 = 3"),
        "plans.update/expected" ->
          rows(base.map { case (k, s, v) => (k, s, if (k % 17 == 3) v + 1.25 else v) }),
        "sink.csv/actual" -> spark.read.option("sep", "\t").option("pathGlobFilter", "part-*.tsv")
          .schema(sinkSchema).csv(s"$lake/sink/$sinkSeq"),
        "sink.csv/expected" -> rows(change(calls("sink.csv") - 1)))
      par(spark, writes) { case (d, df) => df.coalesce(1).write.parquet(s"$out/$d") }
    }

    override def metrics(spark: SparkSession, opMedianS: Map[String, Double]) =
      stream.metrics ++ Map(
      "sources.files_written" -> (if (writeStmts == 0) 0.0 else filesWritten / writeStmts),
      "sources.bytes_written_mb" ->
        (if (writeStmts == 0) 0.0 else writtenBytes / writeStmts / 1048576.0),
      "sources.files_untouched_ratio" -> Main.median(untouched.toSeq),
      "sources.delta_files_live" -> deltaLive,
      "sources.write_amp" -> (if (userBytes > 0) writtenBytes / userBytes else 0.0),
      "sources.space_amp" -> Main.median(spaceAmp.toSeq))
  }
}
