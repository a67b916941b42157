package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM, driven by one client thread:
  *
  *   Main --workload <analytics|dedup|ingest> --seed <n> --seconds <s>
  *        --trace <0|1> --bench <benchmark dir> --work <scratch dir>
  *        [--out <results dir>]
  *
  * Set-up (session, inputs, warm pass, model fit) runs first and counts
  * into `setup_s`. Then whole timed passes run until `--seconds` have
  * passed. The last stdout line is the result object; the line before it
  * is the stamped run record.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val benchDir = Paths.get(args("bench")).toAbsolutePath
    val workDir = Paths.get(args("work")).toAbsolutePath
    val outDir = args.get("out").map(Paths.get(_).toAbsolutePath)
    val loadStart = loadavg()
    val nproc = Runtime.getRuntime.availableProcessors()
    // back-to-back runs of this benchmark alone hold the 1-minute load
    // average near nproc; a run that starts well above that shares the
    // machine with other work and is flagged
    val loadBound = 1.5 * nproc
    val spark = session(nproc, workDir)
    val ctx = Ctx(spark, seed, nproc, benchDir.resolve("data").toString, workDir, benchDir)
    val w = make(workload, ctx)
    val exit = try {
      args.get("expect") match {
        case Some(out) => expect(w.asInstanceOf[QueryWorkload], ctx, Paths.get(out)); 0
        case None => measure(w, ctx, seconds, traced, loadStart, loadBound, outDir)
      }
    } finally spark.stop()
    sys.exit(exit)
  }

  /** The dedup workload's queries: exact and clustered duplicates, the
    * shingle Jaccard self-join, MinHash LSH, SimHash, the driver-iterated
    * canonicalization (q126: dozens of jobs) and two embedding-side
    * dedup/kNN queries.
    */
  val DedupQueries: Seq[String] = Seq("q25_exact_dedup", "q26_dup_clusters", "q27_jaccard_pairs",
    "q28_minhash_lsh", "q29_simhash", "q126_canonical_docs", "q31_knn_bucketed", "q38_embedding_dedup")

  def make(workload: String, ctx: Ctx): Workload = {
    def expected(n: String) = Expected.load(ctx.benchDir.resolve("expected").resolve(s"$n.tsv"))
    workload match {
      // three passes: 24 samples give a tail percentile (p58) instead of
      // the maximum of the slowest query's runs
      case "analytics" => new QueryWorkload("analytics", ctx,
        QueryWorkload.subset(Seq(graft.ops.Relational, graft.ops.Analytics), step = 11, from = 0),
        "ops", expected("analytics"), warmPasses = 1, minPasses = 3)
      case "dedup" => new QueryWorkload("dedup", ctx, DedupQueries, "text", expected("dedup"),
        warmPasses = 1, minPasses = 3)
      case "ingest" => new IngestWorkload(ctx, batch = 40, warmBatch = 10, trainImages = 16,
        warmRounds = 2, minPasses = 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def session(nproc: Int, workDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the program's bench setting: one pass compiles more whole-stage
      // classes than the default cache of 100 holds
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadavg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble)
      .getOrElse(-1.0)

  /** Heap in use after a full GC, once the context cleaner has dropped
    * what earlier collections released: collect every quarter second
    * until three readings in a row agree within 1 MB (at most about 3 s).
    */
  private def liveHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var seen = List(used())
    while ((seen.size < 3 || seen.take(3).max - seen.take(3).min > 1.0) && seen.size < 12) {
      Thread.sleep(250)
      seen = used() :: seen
    }
    seen.head
  }

  def measure(w: Workload, ctx: Ctx, seconds: Double, traced: Boolean, loadStart: Double,
      loadBound: Double, outDir: Option[Path]): Int = {
    import ctx._
    val tracer = if (traced) Some(new Tracer(spark, nproc)) else None
    val runId = tracer.map(_.span(-1, "run", "run", Clock.now(), Clock.now())).getOrElse(-1)
    w.setup()
    // set-up: process start to the first timed op
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val timed = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Double, Seq[OpResult])]
    val t0 = System.nanoTime()
    var p = 0
    // a traced run alternates untraced and traced passes, starting and
    // ending untraced: a traced pass minus the mean of its two untraced
    // neighbours is the tracing overhead, with the warm-up trend cancelled
    val minPasses = if (traced) math.max(3, w.minPasses | 1) else w.minPasses
    while ((System.nanoTime() - t0) / 1e9 < seconds || p < minPasses || (traced && p % 2 == 0)) {
      val traceThis = traced && p % 2 == 1
      val ps = Clock.now()
      // listeners are attached only while a traced pass runs
      val passTrace = if (traceThis) tracer.map { tr =>
        tr.attach()
        tr -> tr.span(runId, s"pass $p", "pass", ps, ps)
      } else None
      val ops = w.pass(p, passTrace)
      passTrace.foreach { case (tr, id) => tr.close(id, Clock.now()); tr.detach() }
      timed += ((p, traceThis, ops.map(_.ms).sum, ops))
      p += 1
    }
    val heapMb = liveHeapMb()
    val loadEnd = loadavg()
    val runEnd = Clock.now()
    val all = w.warmResults ++ timed.flatMap(_._4)
    val failed = all.filterNot(_.ok)
    val measured = timed.filterNot(_._2).flatMap(_._4)
    val lat = measured.map(_.ms)
    val tail = Stats.tail(lat.toSeq)
    val (tailP, tailV) = tail.getOrElse(100 -> (if (lat.isEmpty) 0.0 else lat.max))
    val e2e = Map(
      "items_per_s" -> ("1/s", measured.map(_.items).sum / math.max(lat.sum / 1000.0, 1e-9)),
      "latency_p50_ms" -> ("ms", if (lat.isEmpty) 0.0 else Stats.median(lat.toSeq)),
      "latency_tail_ms" -> ("ms", tailV),
      "setup_s" -> ("s", setupS),
      "live_heap_mb" -> ("MB", heapMb),
    )
    val layers = tracer.map { tr =>
      val tracedOps = timed.filter(_._2).flatMap(_._4)
      val triples = timed.toList.sliding(3).collect {
        case List(a, b, c) if !a._2 && b._2 && !c._2 => b._3 - (a._3 + c._3) / 2
      }.toSeq
      val overhead = if (triples.isEmpty) 0.0 else Stats.median(triples)
      // every per-layer metric is reported; a layer a workload never
      // enters reads 0
      Layers.perOp(tracedOps.toSeq) ++ Layers.perRunNames.map(_._1 -> 0.0) ++ w.runLayers +
        ("trace.overhead_ms" -> overhead)
    }
    val stamp = Seq(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
      "source_sha" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown"),
      "nproc" -> nproc, "load_start" -> loadStart, "load_end" -> loadEnd,
      "load_bound" -> loadBound, "loaded" -> (loadStart > loadBound),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "driver_heap" -> sys.env.getOrElse("PERFBENCH_HEAP", "unknown"),
      "passes" -> timed.size, "ops" -> all.size, "failed_ratio" -> failed.size.toDouble / math.max(all.size, 1),
      "tail_percentile" -> tailP, "tail_samples" -> lat.size, "tail_beyond" -> tail.map(_ => 10).getOrElse(0),
      "failures" -> failed.map(f => s"${f.name}: ${f.detail}"),
      "ops_ms" -> measured.map(o => Map("op" -> o.name, "ms" -> o.ms)),
    )
    val metrics = if (traced) layers.get.map { case (k, v) => k -> (Layers.units(k), v) }
      else e2e
    val metricsJson = Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (u, v)) =>
      k -> Map("value" -> v, "unit" -> u) })
    val record = Json.obj(stamp ++ Seq("metrics" -> metrics.map { case (k, (u, v)) => k -> v }))
    outDir.foreach { d =>
      Files.createDirectories(d)
      Files.writeString(d.resolve("results.jsonl"), record + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      tracer.foreach { tr =>
        val base = s"${w.name}-seed$seed"
        tr.close(runId, runEnd)
        tr.writeSpans(d.resolve(s"$base.spans.jsonl"))
        Files.writeString(d.resolve(s"$base.rollup.json"), Json.value(tr.rollup()) + "\n")
      }
    }
    // the human-readable lines go to stderr; stdout ends with the record
    // and the result object
    metrics.toSeq.sortBy(_._1).foreach { case (k, (u, v)) => System.err.println(f"  $k%-40s $v%14.4f $u") }
    System.err.println(f"  failed_ratio ${failed.size.toDouble / math.max(all.size, 1)}%.4f (${failed.size}/${all.size})" +
      s"  tail=p$tailP of ${lat.size}  load ${loadStart} -> $loadEnd")
    failed.foreach(f => System.err.println(s"  FAILED ${f.name}: ${f.detail}"))
    println(record)
    println(Json.obj(Seq("correct" -> failed.isEmpty, "attempted" -> all.size,
      "failed" -> failed.size)).dropRight(1) + ",\"metrics\":" + metricsJson + "}")
    0
  }

  /** Record the expected (rows, digest) of every query of a workload: each
    * query runs three times, under different shuffle widths; a query whose
    * digest is not stable across them is checked by its row count only.
    */
  def expect(w: QueryWorkload, ctx: Ctx, out: Path): Unit = {
    import ctx._
    val fns = graft.SparkEntry.queries
    val lines = w.queries.map { q =>
      val got = Seq(nproc, 1, 7).map { parts =>
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        graft.Memos.reset()
        val r = ResultHash.of(fns(q)(spark, dataDir))
        Hygiene.clean(spark)
        r
      }
      spark.conf.set("spark.sql.shuffle.partitions", nproc.toString)
      val rows = got.map(_._1).distinct
      require(rows.size == 1, s"$q: row count varies across runs: $rows")
      val digest = if (got.map(_._2).distinct.size == 1) got.head._2 else "-"
      System.err.println(s"$q\t${rows.head}\t$digest")
      s"$q\t${rows.head}\t$digest"
    }
    Files.writeString(out, s"# query\trows\tdigest ('-': rows only, digest varies with partitioning)\n" +
      lines.mkString("\n") + "\n")
  }
}

/** The per-layer metrics of a traced run: per-op means over the traced
  * ops, except where a name says otherwise.
  */
object Layers {
  val perOpNames: Seq[(String, String)] = Seq(
    "tables.infer_jobs" -> "count", "tables.infer_ms" -> "ms",
    "ops.build_ms" -> "ms", "ops.build_jobs" -> "count", "ops.materializations" -> "count",
    "text.build_ms" -> "ms", "text.build_jobs" -> "count", "text.materializations" -> "count",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.idle_gap_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.tasks_per_stage" -> "count", "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.core_util" -> "ratio", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "jvm.gc_ms" -> "ms",
    "ingest.stream_ms" -> "ms", "ingest.batches" -> "count", "ingest.latest_offset_ms" -> "ms",
    "ingest.add_batch_ms" -> "ms", "ingest.wal_commit_ms" -> "ms",
    "ingest.commit_ms" -> "ms", "ingest.read_ms" -> "ms", "ingest.files_written" -> "count",
    "ingest.bytes_written" -> "B", "imaging.cpu_ms_per_image" -> "ms", "ml.score_ms" -> "ms",
  )
  val perRunNames: Seq[(String, String)] = Seq(
    "ml.fit_ms" -> "ms", "ingest.stored_bytes_per_input_byte" -> "ratio",
    "trace.overhead_ms" -> "ms")
  val units: Map[String, String] = (perOpNames ++ perRunNames).toMap

  /** Phase walls recorded by the tracer under their layer names. */
  private val walls = Map(
    "ops.build_ms" -> "ops.build.wall_ms", "text.build_ms" -> "text.build.wall_ms",
    "ingest.stream_ms" -> "ingest.stream.wall_ms", "ingest.commit_ms" -> "ingest.commit.wall_ms",
    "ingest.read_ms" -> "ingest.read.wall_ms", "ml.score_ms" -> "ml.score.wall_ms")

  def perOp(ops: Seq[OpResult]): Map[String, Double] = perOpNames.map { case (k, _) =>
    val src = walls.getOrElse(k, k)
    k -> (if (ops.isEmpty) 0.0 else ops.map(_.layers.getOrElse(src, 0.0)).sum / ops.size)
  }.toMap
}
