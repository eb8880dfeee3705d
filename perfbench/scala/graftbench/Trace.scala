package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** A timed interval around one call into a layer. `group` is the batch or
  * request the span belongs to; `parent` is the enclosing span's id. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, group: String)

/** In-memory span recorder. Off, it records nothing and adds one branch
  * per call; on, spans are kept until [[write]] at the end of the run. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String, group: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.synchronized { spans += null; spans.size - 1 }
      val parent = stack.get().headOption.getOrElse(-1)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.synchronized { spans(id) = Span(id, name, t0, t1, parent, group) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"group":"${s.group}"}""" += '\n'
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Job, stage and task facts from Spark's listener bus, registered only in
  * the traced run. Jobs are attributed to an ingest phase by the program
  * method on their call site (never by line number). */
final class JobListener extends SparkListener {
  final case class Job(id: Int, start: Long, callSite: String, plan: String, stages: Seq[Int]) {
    @volatile var end: Long = -1L
    def phase: String = JobListener.phase(callSite) match {
      case "other" => JobListener.planPhase(plan)
      case p => p
    }
  }
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var bytesWritten = 0L; var recordsWritten = 0L
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  private val execs = mutable.HashMap.empty[Long, (String, String)] // id -> (call site, plan)

  /** A job of a SQL execution gets the call site of the action that
    * started the execution (its own may be an async broadcast or stage
    * thread) and the execution's plan. Other jobs get their result stage's
    * call site. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
      .flatMap(execs.get)
    val cs = exec.map(_._1).getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
    jobs += Job(e.jobId, e.time, cs, exec.map(_._2).getOrElse(""), e.stageIds)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execs(s.executionId) = (s.details, s.physicalPlanDescription))
    case _ =>
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Jobs that started inside [lo, hi] (epoch ms). */
  def jobsIn(lo: Long, hi: Long): Seq[Job] = synchronized(jobs.filter(j => j.start >= lo && j.start <= hi).toList)
  def stageAgg(id: Int): Option[StageAgg] = synchronized(stages.get(id))
  /** Every job with its phase and call site, for reading next to the spans. */
  def dump(): String = synchronized(jobs.map(j => s"== job ${j.id} ${j.phase}\n${j.callSite}").mkString("\n"))
}

object JobListener {
  /** Ingest phase of a job, from the methods on its call site. Compaction
    * and index builds call into the append path, so they are tested
    * first. */
  def phase(callSite: String): String = {
    def has(m: String) = callSite.contains(m)
    if (has("TableStore.compactWhere")) "compact"
    else if (has("TableStore.buildFileIndex")) "index"
    else if (has("TableStore.stageAppend")) "append"
    else if (has("TableStore.writeStateBuckets")) "merge"
    else if (has("BlockIngest$.applyBlocks") || has("BlockIngest$.$anonfun$applyBlocks")) {
      if (callSite.linesIterator.nextOption().exists(_.contains(".rdd.RDD."))) "prepass" else "touched"
    } else "other"
  }

  private val StagedWrite = """/([A-Za-z_]+)/_staging_""".r

  /** Ingest phase from an execution's plan, for jobs whose call site names
    * no ingest method: a streaming query's jobs all carry the call site of
    * its start(). A staged write names its table; compaction reads the
    * table's own range files; the index build reads file names; the
    * touched-bucket job hashes keys; the pre-pass is the one job that
    * reads the batch's block files. */
  def planPhase(plan: String): String =
    if (plan.contains("input_file_name")) "index"
    else StagedWrite.findFirstMatchIn(plan).filter(_ => plan.contains("InsertIntoHadoopFsRelationCommand"))
        .map(_.group(1)) match {
      case Some(t) if Seq("txn", "txn_participation", "block_header").contains(t) =>
        if (plan.contains(s"/$t/rbkt=")) "compact" else "append"
      case Some(_) => "merge"
      case None =>
        if (plan.contains("xxhash64")) "touched"
        else if (plan.contains("Scan text")) "prepass"
        else "other"
    }

  val Phases: Seq[String] = Seq("prepass", "touched", "append", "merge", "index", "compact", "other")

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-batch facts of one ingest batch window, from the job listener.
  * `mergeRows` is the rows the state merges wrote: records written by the
  * stages of the batch's merge-phase jobs. */
final case class BatchFacts(wallMs: Long, jobs: Int, stages: Int, tasks: Long,
    phaseMs: Map[String, Long], driverOnlyMs: Long, taskCpuMs: Double, runMs: Long,
    shuffleBytes: Long, bytesWritten: Long, mergeRows: Long)

object BatchFacts {
  def of(l: JobListener, lo: Long, hi: Long): BatchFacts = {
    val js = l.jobsIn(lo, hi)
    val iv = js.map(j => (j.start, if (j.end < 0) hi else j.end))
    val byPhase = js.zip(iv).groupBy { case (j, _) => j.phase }
    val phaseMs = JobListener.Phases.map { p =>
      p -> JobListener.unionMs(byPhase.getOrElse(p, Nil).map(_._2), lo, hi)
    }.toMap
    val ran = js.flatMap(_.stages).distinct.flatMap(l.stageAgg)
    val merged = js.filter(_.phase == "merge").flatMap(_.stages).distinct.flatMap(l.stageAgg)
    BatchFacts(hi - lo, js.size, ran.size, ran.map(_.tasks).sum, phaseMs,
      (hi - lo) - JobListener.unionMs(iv, lo, hi), ran.map(_.cpuNs).sum / 1e6,
      ran.map(_.runMs).sum, ran.map(_.shuffleWrite).sum, ran.map(_.bytesWritten).sum,
      merged.map(_.recordsWritten).sum)
  }
}
