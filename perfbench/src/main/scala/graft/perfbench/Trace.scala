package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Spans around the calls into each layer, plus a SparkListener that
  * charges every stage and task to the span whose thread started its job.
  *
  * Spans are sequential children of one root (`pass`): the pipelines run
  * one layer after another on one thread. Each span sets the local
  * property [[Trace.Key]]; jobs inherit it, so a job's stages and tasks
  * land in the layer that caused them. Spans stay in memory and are
  * written out when the pass ends.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val root = Span("pass", "", System.nanoTime())
  val spans = ArrayBuffer[Span]()
  private val persisted = ArrayBuffer[DataFrame]()
  private val listener = new Listener
  spark.sparkContext.addSparkListener(listener)

  /** Time `body` as layer `name`. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(name, root.name, System.nanoTime())
    spans += s
    val sc = spark.sparkContext
    sc.setLocalProperty(Key, name)
    sc.setJobDescription(name)
    try body
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Key, null)
      sc.setJobDescription(null)
    }
  }

  /** Materialize `df` (persist + count) inside the current span, so its
    * lazy work lands in the layer that caused it. With `out`, its rows
    * count towards the layer's `rows_out`.
    */
  def keep(df: DataFrame, out: Boolean = true): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    val n = p.count()
    if (out) addRows(n)
    p
  }

  def addRows(n: Long): Unit = spans.last.rows += n

  /** Close the root, drain the listener bus and return per-layer stats. */
  def finish(): Seq[(Span, Stats)] = {
    root.endNs = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    persisted.foreach(_.unpersist())
    spans.toSeq.map(s => s -> listener.stats(s.name))
  }

  def unattributed: Stats = listener.stats(null)
}

object Trace {
  val Key = "perfbench.span"

  final case class Span(name: String, parent: String, startNs: Long,
                        var endNs: Long = 0L, var rows: Long = 0L)

  final class Stats {
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var fetchWaitMs = 0L
    var gcMs = 0L
    var failedTasks = 0L
  }

  private final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, String]()
    private val bySpan = new ConcurrentHashMap[String, Stats]()
    private val NoSpan = "\u0000"

    def stats(span: String): Stats =
      bySpan.computeIfAbsent(Option(span).getOrElse(NoSpan), _ => new Stats)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).map(_.getProperty(Key)).orNull
      e.stageIds.foreach(id =>
        stageSpan.put(id, Option(span).getOrElse(NoSpan)))
    }

    private def of(stageId: Int): Stats =
      stats(stageSpan.getOrDefault(stageId, NoSpan) match {
        case NoSpan => null
        case s => s
      })

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = of(e.stageInfo.stageId)
      st.synchronized(st.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = of(e.stageId)
      st.synchronized {
        st.tasks += 1
        if (e.reason != org.apache.spark.Success) st.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.runMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.diskBytesSpilled
          st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        }
      }
    }
  }
}
