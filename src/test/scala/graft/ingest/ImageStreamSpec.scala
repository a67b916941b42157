package graft.ingest

import graft.SparkSpec
import graft.imaging.SyntheticImages
import graft.ml.StreamScoring
import java.nio.file.{Files, Path}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.collection.mutable

/** The shared image-stream source ([[Ingest.source]]) over micro-batches
  * above Spark's 32-path parallel-discovery threshold, for both streams
  * that read it, across a restart: one Spark job (the sink write) per
  * data micro-batch, the caller's streaming listeners see every
  * progress event, the caller's conf is untouched, and the rows equal
  * the batch plan over the same files.
  */
class ImageStreamSpec extends SparkSpec {
  private val perRound = 36 // > spark.sql.sources.parallelPartitionDiscovery.threshold

  /** Land `perRound` small JPEGs named in the capture format, round `r`. */
  private def land(dir: Path, r: Int): Unit =
    for (i <- 0 until perRound) {
      val label = i % 2
      val day = 1 + i % 3
      val bytes =
        if (label == 0) SyntheticImages.solid(64, 48, 40 + 5 * i, 200 - 3 * i, 90)
        else SyntheticImages.twoTone(64, 48, (220, 30 + 4 * i, 30), (20, 20, 100 + 3 * i))
      Files.write(dir.resolve(f"2021-10-0${day}_rpi_cam_$r%d_s$i%02d_$label.jpg"),
        bytes)
    }

  /** Jobs launched by the stream run, progress events the caller's
    * listener saw for it, and the caller's conf before and after.
    */
  private case class Run(jobs: Int, dataBatches: Int, progressSeen: Seq[Long],
      progressMade: Seq[Long], confBefore: Map[String, String],
      confAfter: Map[String, String])

  private def observe(start: => StreamingQuery): Run = {
    val jobsByQuery = mutable.Map.empty[String, Int].withDefaultValue(0)
    val progressByRun = mutable.Map.empty[String, Seq[Long]].withDefaultValue(Nil)
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobsByQuery.synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty(StreamExecution.QUERY_ID_KEY)))
          .foreach(id => jobsByQuery(id) += 1)
      }
    }
    val progress = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progressByRun.synchronized {
          progressByRun(e.progress.runId.toString) :+= e.progress.batchId
        }
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
    try {
      val confBefore = spark.conf.getAll
      val q = start
      q.awaitTermination()
      val confAfter = spark.conf.getAll
      ListenerBusDrain(spark.sparkContext)
      Run(jobsByQuery.synchronized(jobsByQuery(q.id.toString)),
        q.recentProgress.count(_.numInputRows > 0),
        progressByRun.synchronized(progressByRun(q.runId.toString)),
        q.recentProgress.map(_.batchId).toSeq, confBefore, confAfter)
    } finally {
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  private def assertRun(what: String, r: Run): Unit = {
    assert(r.dataBatches >= 1, s"$what: no data micro-batch ran")
    assert(r.jobs == r.dataBatches,
      s"$what: ${r.jobs} Spark jobs for ${r.dataBatches} data micro-batches " +
        "(expected only the sink write; a file-listing job came back)")
    assert(r.progressSeen == r.progressMade,
      s"$what: caller's listener saw batches ${r.progressSeen}, query made ${r.progressMade}")
    assert(r.confAfter == r.confBefore, s"$what: caller's session conf changed")
  }

  /** Both directions empty ⇒ identical row multisets. */
  private def assertSameRows(what: String, got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(want.columns.map(col).toIndexedSeq: _*)
    assert(g.count() == want.count(), s"$what: row count")
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty, s"$what: rows differ")
  }

  test("Ingest.stream: one job per data micro-batch, listeners and conf intact, rows = batch") {
    val src = Files.createTempDirectory("imgstream_src")
    val out = Files.createTempDirectory("imgstream_out").toString
    val cp = Files.createTempDirectory("imgstream_cp").toString
    land(src, 1)
    assertRun("first run", observe(Ingest.stream(spark, src.toString, out, cp)))
    land(src, 2) // restart replays the last batch, then lists the new files
    assertRun("restart", observe(Ingest.stream(spark, src.toString, out, cp)))
    assertSameRows("ingest", spark.read.parquet(out), Ingest.batch(spark, src.toString))
  }

  test("scoreStream: one job per data micro-batch, listeners and conf intact, rows = batch") {
    val src = Files.createTempDirectory("scorestream_src")
    val out = Files.createTempDirectory("scorestream_out").toString
    val cp = Files.createTempDirectory("scorestream_cp").toString
    land(src, 1)
    val model = StreamScoring.trainOnImages(spark,
      Ingest.batch(spark, src.toString).select("content", "label"))
    assertRun("first run",
      observe(StreamScoring.scoreStream(spark, model, src.toString, out, cp)))
    land(src, 2)
    assertRun("restart",
      observe(StreamScoring.scoreStream(spark, model, src.toString, out, cp)))
    val batchScores = model.transform(StreamScoring.imageFeatures(spark,
        Ingest.batch(spark, src.toString)))
      .select(col("path"),
        element_at(vector_to_array(col("probability")), 2).as("score"))
    assertSameRows("scores", spark.read.parquet(out), batchScores)
  }
}
