package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Micro-batch replay harness: feeds a finite dataset through a
  * [[MemoryStream]] in N micro-batches and materializes the final result
  * of a streaming transform through the in-memory sink.
  *
  * This is the executable form of the reference's poll loop (reference
  * `main.go:295-396`): each `addData` + `processAllAvailable` round is one
  * GetRecords pull, the sink table the stdout funnel, `stop()` the SIGINT
  * drain (`main.go:180-208`). `StreamingSpec` uses it to assert
  * stream ≡ batch for every SURVEY §2.C operator.
  */
object Replay {
  private val counter = new AtomicInteger(0)

  /** Start a query on a fresh checkpoint dir, hand it to `use`, then
    * stop it and delete the dir: a replay never resumes, so nothing in
    * the dir outlives the query.
    */
  private def withQuery[A](start: String => StreamingQuery)(use: StreamingQuery => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    try {
      val q = start(dir.toString)
      try use(q)
      finally { q.stop(); q.awaitTermination() }
    } finally FileUtils.deleteQuietly(dir)
  }

  /** Run `logic` over `data` replayed in `chunks` micro-batches; return
    * the final content of the memory sink table.
    */
  def run[T](spark: SparkSession, data: Seq[T], chunks: Int, mode: OutputMode)(
      logic: Dataset[T] => DataFrame)(implicit enc: Encoder[T]): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[T]
    val name = s"replay_${counter.incrementAndGet()}"
    withQuery(dir => logic(ms.toDS()).writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", dir)
      .start())(feed(ms, _, data, chunks))
    spark.table(name)
  }

  /** Run `logic` over the replayed feed, delivering each micro-batch to
    * `onBatch` via `foreachBatch` — the custom-sink path (h7; the
    * reference's stdout append, `main.go:288-292`).
    */
  def runForeach[T](spark: SparkSession, data: Seq[T], chunks: Int, mode: OutputMode)(
      logic: Dataset[T] => DataFrame)(onBatch: (DataFrame, Long) => Unit)(
      implicit enc: Encoder[T]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[T]
    withQuery(dir => logic(ms.toDS()).writeStream
      .outputMode(mode)
      .option("checkpointLocation", dir)
      .foreachBatch(onBatch)
      .start())(feed(ms, _, data, chunks))
  }

  /** One-shot drain (the reference's `--one-shot`, `main.go:89-92`):
    * all data is present up front; `Trigger.AvailableNow` processes it in
    * bounded micro-batches and terminates the query by itself; one still
    * running after two minutes is stopped and reported as an error.
    */
  def runOneShot[T](spark: SparkSession, data: Seq[T], mode: OutputMode)(
      logic: Dataset[T] => DataFrame)(implicit enc: Encoder[T]): (StreamingQuery, DataFrame) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[T]
    ms.addData(data)
    val name = s"oneshot_${counter.incrementAndGet()}"
    val q = withQuery(dir => logic(ms.toDS()).writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", dir)
      .trigger(Trigger.AvailableNow())
      .start()) { q =>
      if (!q.awaitTermination(120000L))
        throw new IllegalStateException(s"one-shot replay $name did not terminate in 120 s")
      q
    }
    (q, spark.table(name))
  }

  private def feed[T](ms: MemoryStream[T], q: StreamingQuery, data: Seq[T], chunks: Int): Unit = {
    val size = math.max(1, math.ceil(data.size.toDouble / chunks).toInt)
    data.grouped(size).foreach { chunk =>
      ms.addData(chunk)
      q.processAllAvailable()
    }
  }
}
