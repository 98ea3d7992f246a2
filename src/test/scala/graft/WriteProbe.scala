package graft

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Probes for specs: what Spark ran or compiled for a block of code, the
  * data files under each partition leaf of a written table, and the
  * temp files a call left behind. */
object WriteProbe {

  /** Jobs a block ran: their descriptions, and the task count of every
    * stage whose tasks wrote output records. */
  final case class Run(jobDescriptions: Seq[String], writeStageTasks: Seq[Int])

  /** Run `body` under a job group of its own and record its jobs. With
    * `anyThread`, record every job started while `body` ran, whatever its
    * thread: a request served by `ExtractServer` runs its jobs on the
    * server's dispatcher thread, which carries no job group. Suites run one
    * after another in one JVM, so after [[quiesce]] those are `body`'s. */
  def record[A](spark: SparkSession, anyThread: Boolean = false)(body: => A): (A, Run) = {
    val sc = spark.sparkContext
    val group = s"write-probe-${java.util.UUID.randomUUID()}"
    val descriptions = new ConcurrentLinkedQueue[String]()
    val stageTasks = new ConcurrentHashMap[Int, Int]()
    val writing = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (anyThread ||
            e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          descriptions.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
          e.stageInfos.foreach(s => stageTasks.put(s.stageId, s.numTasks))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writing.add(e.stageId)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "write probe")
    val res = try body finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val writeStages = writing.asScala.toSeq.filter(stageTasks.containsKey).sorted
    (res, Run(descriptions.asScala.toSeq, writeStages.map(stageTasks.get)))
  }

  /** Spark jobs `body` runs, counted with adaptive execution off. AQE runs
    * every shuffle and broadcast stage as a job of its own, and how many
    * of those a plan takes can change with the order in which concurrent
    * stages finish (connected components on a 3-pair fixture: 17 or 18
    * jobs from the same code). With AQE off the count is the actions the
    * code runs, which is what a job-count spec pins. */
  def jobCount(spark: SparkSession, anyThread: Boolean = false)(body: => Any): Int =
    withoutAqe(spark)(record(spark, anyThread)(body)._2.jobDescriptions.size)

  /** Wait until no Spark job runs and every posted listener event has been
    * delivered, so that work an earlier spec left running (the stages of a
    * query that failed mid-stream, a broadcast) cannot land in a count
    * window opened next. */
  def quiesce(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds.nonEmpty) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("Spark jobs still running after 60 s: " +
          sc.statusTracker.getActiveJobIds.mkString(", "))
      Thread.sleep(10)
    }
    ListenerBusDrain(sc)
  }

  /** Run `body` with adaptive execution off (see [[jobCount]]). */
  def withoutAqe[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Classes Spark's code generator compiled while `body` ran (cache
    * misses of the codegen cache; a cached class counts nothing). Specs
    * that pin 0 run warm-up and measured calls under [[withoutAqe]]: AQE
    * re-plans a query from its runtime statistics (an empty stage, a small
    * side, the order in which concurrent stages finish), and another plan
    * is other code whatever the query's constants — a served extract over
    * a second box compiled 4 classes with AQE on and 0 with it off. */
  def compileCount(body: => Any): Long = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = h.getCount
    body
    h.getCount - c0
  }

  /** Names of the entries in the JVM temp dir that start with `prefix`. */
  def tempFiles(prefix: String): Set[String] = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(prefix)).toSet
    finally ls.close()
  }

  /** Data files (names not starting with `_` or `.`) per leaf directory
    * under `root`, keyed by the leaf's path relative to `root`
    * (e.g. "p_cell=12/p_salt=0"). Directories starting with `_` are not
    * part of the table and are skipped. */
  def dataFilesPerLeaf(root: String): Map[String, Int] = {
    def hidden(f: File) = f.getName.startsWith("_") || f.getName.startsWith(".")
    def walk(dir: File, rel: String): Seq[(String, Int)] = {
      val (dirs, files) = dir.listFiles().toSeq.filterNot(hidden).partition(_.isDirectory)
      val here = if (files.nonEmpty && rel.nonEmpty) Seq(rel -> files.size) else Nil
      here ++ dirs.flatMap(d => walk(d, if (rel.isEmpty) d.getName else s"$rel/${d.getName}"))
    }
    walk(new File(root), "").toMap
  }
}
