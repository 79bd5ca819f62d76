package graft

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
object SparkTestBase {

  /** Scratch dirs registered here are deleted when the suite JVM
    * exits NORMALLY; killed JVMs leave them behind, so creation also
    * sweeps stale same-prefix siblings older than 30 min (checkpoint
    * data is only meaningful to its creating context — a dir that
    * old belongs to a dead JVM). */
  def scratchDir(prefix: String): String = {
    val cutoff = System.currentTimeMillis() - 30 * 60000L
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.lastModified() < cutoff)
      .foreach(deleteRecursive)
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursive(dir)))
    dir.toString
  }

  private def deleteRecursive(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursive)
    f.delete(): Unit
  }

  /** Spark jobs started while a block ran (their call sites), how many
    * of them wrote records to files, how many stages wrote shuffle
    * records, and how many RDDs stored cached blocks. A job inside an
    * SQL execution is named by that execution's description, the
    * action's call site (`count at KGPipelineSpec.scala:101`) unless a
    * job description was set: under AQE the result stage of every
    * query-stage job reads `CompletableFuture.java`. Any other job is
    * named by its result stage. */
  final case class Jobs(callSites: Seq[String], writing: Int, shuffleStages: Int, cachedRdds: Int) {
    def started: Int = callSites.size
  }

  /** Counts the jobs `f` starts on the shared session (specs run one at
    * a time, so no other suite's jobs are counted). */
  def countJobs(f: => Unit): Jobs = {
    val sc = spark.sparkContext
    val listener = new SparkListener {
      val jobs = scala.collection.mutable.ArrayBuffer.empty[String]
      val executions = scala.collection.mutable.Map.empty[Long, String]
      val jobOfStage = scala.collection.mutable.Map.empty[Int, Int]
      val writers = scala.collection.mutable.Set.empty[Int]
      val shufflers = scala.collection.mutable.Set.empty[Int]
      val cached = scala.collection.mutable.Set.empty[Int]
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => synchronized(executions(s.executionId) = s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val execution = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        jobs += execution.flatMap(id => executions.get(id.toLong))
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        e.stageIds.foreach(jobOfStage(_) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          jobOfStage.get(e.stageId).foreach(writers += _)
        if (e.taskMetrics != null && e.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shufflers += e.stageId
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
        val info = e.blockUpdatedInfo
        if (info.storageLevel.isValid) info.blockId.asRDDId.foreach(cached += _.rddId)
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { f; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    listener.synchronized(
      Jobs(listener.jobs.toSeq, listener.writers.size, listener.shufflers.size, listener.cached.size))
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(scratchDir("graft-ckpt"))
    s
  }
}
