package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed op as the client saw it. `items` is what the op completed
  * (1 query, or the images of one ingest round).
  */
final case class OpResult(name: String, ms: Double, items: Int, ok: Boolean,
    detail: String, layers: Map[String, Double] = Map.empty)

/** What every workload shares: the session, the seed, the core count,
  * the corpus, the run's scratch directory and the benchmark directory.
  */
final case class Ctx(spark: SparkSession, seed: Long, nproc: Int, dataDir: String,
    workDir: Path, benchDir: Path)

trait Workload {
  def name: String
  /** Inputs, warm-up and model fit: all of it counts as set-up. */
  def setup(): Unit
  /** Ops run during set-up, already checked. */
  def warmResults: Seq[OpResult]
  /** Run timed pass `pass`; `trace` attributes each op's work to layers. */
  def pass(pass: Int, trace: Option[(Tracer, Int)]): Seq[OpResult]
  /** Timed passes a run makes at least, however short `--seconds` is. */
  def minPasses: Int
  /** Per-run layer metrics (set-up work, totals over the run). */
  def runLayers: Map[String, Double] = Map.empty
}

object Hygiene {
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** GC time the JVM spent while `f` ran. */
  def gcDuring[T](f: => T): (T, Double) = {
    val g0 = gcMs
    val r = f
    (r, (gcMs - g0).toDouble)
  }

  /** Between ops and passes, outside every timer: drop cached blocks the
    * last op left and collect the garbage it made.
    */
  def clean(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

/** The query workloads: a fixed subset of the registered queries of some
  * modules, each pass in a seed-permuted order, each query timed from the
  * call of its query function to its full-result digest.
  */
final class QueryWorkload(val name: String, ctx: Ctx, val queries: Seq[String],
    layer: String, expected: Map[String, Expected], warmPasses: Int, val minPasses: Int)
    extends Workload {
  import ctx._
  private val fns = graft.SparkEntry.queries
  private var warm = Seq.empty[OpResult]

  def order(pass: Int): Seq[String] = QueryWorkload.order(queries, seed, pass)

  def setup(): Unit =
    warm = (1 to warmPasses).flatMap(p => pass(-p, None))

  def warmResults: Seq[OpResult] = warm

  def pass(pass: Int, trace: Option[(Tracer, Int)]): Seq[OpResult] = {
    graft.Memos.reset()
    Hygiene.clean(spark)
    order(pass).map { q => val r = run(q, trace); Hygiene.clean(spark); r }
  }

  def run(q: String, trace: Option[(Tracer, Int)]): OpResult = {
    val t0 = Clock.now()
    var t1 = t0
    var mats = 0
    val ((outcome, t2), gc) = Hygiene.gcDuring {
      val o = try {
        val df: DataFrame = fns(q)(spark, dataDir)
        t1 = Clock.now()
        if (trace.isDefined) mats = spark.sparkContext.getPersistentRDDs.size
        Right(ResultHash.of(df))
      } catch { case e: Throwable => Left(e.toString) }
      (o, Clock.now())
    }
    val ms = (t2 - t0) / 1e6
    val (ok, detail) = outcome match {
      case Left(err) => (false, s"error: ${err.take(300)}")
      case Right(got) => Expected.check(expected.get(q), got)
    }
    val layers = trace.map { case (tr, passId) =>
      if (t1 == t0) t1 = t2 // failed inside the query function: all of it is build
      tr.op(passId, q, t0, t2,
        Seq(Phase("build", s"$layer.build", t0, t1), Phase("action", "spark.action", t1, t2, action = true)),
        Map(s"$layer.materializations" -> mats.toDouble, "jvm.gc_ms" -> gc))
    }.getOrElse(Map("jvm.gc_ms" -> gc))
    OpResult(q, ms, 1, ok, detail, layers)
  }
}

object QueryWorkload {
  /** The query order of pass `pass` under workload seed `seed`. */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(queries)

  /** Every `step`-th registered query of `modules`, from position `from`. */
  def subset(modules: Seq[graft.QueryModule], step: Int, from: Int): Seq[String] =
    modules.flatMap(_.queries.map(_.name)).drop(from).grouped(step).map(_.head).toSeq
}

/** A query's expected full result at the benchmark's corpus. `digest` is
  * None where the result is only checked by its row count.
  */
final case class Expected(rows: Long, digest: Option[String])

object Expected {
  def check(e: Option[Expected], got: (Long, String)): (Boolean, String) = e match {
    case None => (false, s"no expected value; got rows=${got._1} digest=${got._2}")
    case Some(x) if x.rows != got._1 => (false, s"rows ${got._1} != expected ${x.rows}")
    case Some(Expected(_, Some(d))) if d != got._2 => (false, s"digest ${got._2} != expected $d")
    case _ => (true, "")
  }

  /** Tab-separated `name rows digest-or-dash`, one query a line. */
  def load(p: Path): Map[String, Expected] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, r, d) = l.split("\t")
      n -> Expected(r.toLong, if (d == "-") None else Some(d))
    }.toMap
}

/** The reference pipeline, round by round: land B generated JPEGs by
  * rename, stream-ingest them (AvailableNow, default byte admission),
  * stream-score them with the model fitted in set-up, commit the round's
  * scored rows atomically and read the new version back.
  */
final class IngestWorkload(ctx: Ctx, batch: Int, warmBatch: Int, trainImages: Int,
    warmRounds: Int, val minPasses: Int) extends Workload {
  import ctx._
  val name = "ingest"
  private val dirs = Seq("pool", "train", "landing", "images", "images_cp", "scored",
    "scored_cp", "table").map(d => d -> workDir.resolve(d)).toMap
  private def dir(d: String) = dirs(d).toString
  private var model: org.apache.spark.ml.classification.LogisticRegressionModel = _
  private var fitMs = 0.0
  private var round = 0
  private var nextShot = trainImages
  private var landedBytes = 0L
  private var landedImages = 0L
  private var warm = Seq.empty[OpResult]

  def setup(): Unit = {
    dirs.values.foreach(Files.createDirectories(_))
    generate(0 until trainImages, dirs("train"))
    graft.Memos.reset()
    val labeled = spark.read.format("binaryFile").load(dir("train"))
      .withColumn("label", regexp_extract(col("path"), "_(\\d)\\.jpg$", 1).cast("int"))
      .select("content", "label")
    val t0 = Clock.now()
    model = graft.ml.StreamScoring.trainOnImages(spark, labeled)
    fitMs = (Clock.now() - t0) / 1e6
    Hygiene.clean(spark)
    warm = (0 until warmRounds).flatMap(_ => pass(-1, None))
  }
  def warmResults: Seq[OpResult] = warm

  /** A pass is one round. Its images are generated before its timer
    * starts; landing them is the round's first step. Warm rounds land
    * fewer images: their cost is first-use set-up, not per image (the
    * imaging UDFs are already hot from the model fit).
    */
  def pass(pass: Int, trace: Option[(Tracer, Int)]): Seq[OpResult] = {
    val shots = nextShot until nextShot + (if (pass < 0) warmBatch else batch)
    nextShot = shots.end
    generate(shots, dirs("pool"))
    graft.Memos.reset()
    Hygiene.clean(spark)
    val r = runRound(shots.map(Images.shot(seed, _)), trace)
    Hygiene.clean(spark)
    Seq(r)
  }

  /** Write the shots `indices` into `dir`, on `nproc` threads. */
  private def generate(indices: Seq[Int], dir: Path): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try indices.map { i =>
      pool.submit(new Runnable {
        def run(): Unit = Files.write(dir.resolve(Images.shot(seed, i).fileName), Images.jpeg(seed, i))
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  override def runLayers: Map[String, Double] = Map(
    "ml.fit_ms" -> fitMs,
    "ingest.stored_bytes_per_input_byte" -> storedBytesPerInputByte)

  def storedBytesPerInputByte: Double =
    Seq("images", "images_cp", "scored", "scored_cp", "table")
      .map(d => Dirs.usage(dirs(d))._2).sum.toDouble / math.max(landedBytes, 1L)

  private def runRound(shots: Seq[Shot], trace: Option[(Tracer, Int)]): OpResult = {
    val k = round
    round += 1
    val written0 = if (trace.isDefined) Some(writtenNow()) else None
    val t0 = Clock.now()
    val ((res, phases), gc) = Hygiene.gcDuring {
      val phases = scala.collection.mutable.ArrayBuffer.empty[Phase]
      def phase[T](name: String, layer: String)(f: => T): T = {
        val s = Clock.now()
        val r = f
        phases += Phase(name, layer, s, Clock.now())
        r
      }
      val res = try {
        val landed = phase("land", "ingest.land") {
          shots.map { s =>
            val src = dirs("pool").resolve(s.fileName)
            landedBytes += Files.size(src)
            val dst = dirs("landing").resolve(s.fileName)
            Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            dst.toUri.toString.replace("file:///", "file:/")
          }
        }
        landedImages += shots.size
        phase("stream", "ingest.stream") {
          val q = graft.ingest.Ingest.stream(spark, dir("landing"), dir("images"), dir("images_cp"))
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
        phase("score", "ml.score") {
          val q = graft.ml.StreamScoring.scoreStream(spark, model, dir("landing"), dir("scored"), dir("scored_cp"))
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
        val version = phase("commit", "ingest.commit") {
          val paths = landed.map(lit)
          val images = spark.read.parquet(dir("images")).filter(col("path").isin(paths: _*))
          val scored = spark.read.parquet(dir("scored")).filter(col("path").isin(paths: _*))
          graft.ingest.AtomicSink.commit(images.join(scored, "path").select(
            col("path"), col("file_name"), col("device_id"), col("label"), col("date"),
            col("metadata.height").as("height"), col("metadata.width").as("width"),
            col("statistics.histogram").as("histogram"), col("score")), dir("table"))
        }
        phase("read", "ingest.read") {
          check(graft.ingest.AtomicSink.read(spark, dir("table"), version), landed, shots)
        }
      } catch { case e: Throwable => Left(s"error: ${e.toString.take(300)}") }
      (res, phases.toSeq)
    }
    val t1 = Clock.now()
    val ms = (t1 - t0) / 1e6
    val layers = trace.map { case (tr, passId) =>
      val (files, bytes) = writtenNow()
      val m = tr.op(passId, s"round $k", t0, t1, phases, Map("jvm.gc_ms" -> gc,
        "ingest.files_written" -> (files - written0.get._1).toDouble,
        "ingest.bytes_written" -> (bytes - written0.get._2).toDouble))
      m + ("imaging.cpu_ms_per_image" -> m.getOrElse("imaging.stream_cpu_ms", 0.0) / shots.size)
    }.getOrElse(Map("jvm.gc_ms" -> gc))
    OpResult(s"round $k", ms, shots.size, res.isRight, res.left.getOrElse(""), layers)
  }

  private def writtenNow(): (Long, Long) = {
    val us = Seq("images", "images_cp", "scored", "scored_cp", "table").map(d => Dirs.usage(dirs(d)))
    (us.map(_._1).sum, us.map(_._2).sum)
  }

  /** The round's output checks on the committed version. */
  private def check(snap: DataFrame, landed: Seq[String], shots: Seq[Shot]): Either[String, Unit] = {
    val band = (b: Int) => expr(s"aggregate(slice(histogram, ${b * 256 + 1}, 256), 0L, (a, x) -> a + x)")
    val all = snap.agg(count(lit(1)), countDistinct(col("path"))).head()
    val mine = snap.filter(col("path").isin(landed.map(lit): _*))
      .select(col("path"), col("label"), col("score"), col("height"), col("width"),
        band(0).as("b0"), band(1).as("b1"), band(2).as("b2"))
      .collect()
    val want = landed.zip(shots.map(_.label)).toMap
    val px = (Images.Side * Images.Side).toLong
    val problems = Seq(
      (all.getLong(0) != landedImages) -> s"committed rows ${all.getLong(0)} != landed $landedImages",
      (all.getLong(1) != all.getLong(0)) -> s"duplicate paths: ${all.getLong(0) - all.getLong(1)}",
      (mine.length != landed.size) -> s"round rows ${mine.length} != ${landed.size}",
      mine.exists(r => r.isNullAt(2) || r.getDouble(2) < 0 || r.getDouble(2) > 1) -> "score outside [0, 1]",
      mine.exists(r => r.getInt(3) != Images.Side || r.getInt(4) != Images.Side) -> "size != 600x600",
      mine.exists(r => want.get(r.getString(0)).forall(_ != r.getInt(1))) -> "label mismatch",
      mine.exists(r => (5 to 7).exists(i => r.getLong(i) != px)) -> s"band mass != $px",
    ).collect { case (true, msg) => msg }
    if (problems.isEmpty) Right(()) else Left(problems.mkString("; "))
  }
}

object Dirs {
  /** (files, bytes) under `p`. */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
}
