package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What run.py asks of one JVM. `orders(i)` is the query order of pass i:
  * the first `setups` orders drive the cold passes, the rest the warm
  * loop. `check` is the workload's canonical order for the output check. */
final case class Plan(
    sfDir: String, workDir: String, cpus: Int, seconds: Double, trace: Boolean,
    setups: Int, orders: Seq[Seq[String]], check: Seq[String],
    expected: Map[String, String])

/** One query execution: `build` is the call into SparkEntry.queries,
  * `action` the full materialization through the noop sink. Times in s;
  * `start`/`end` in epoch microseconds. */
final case class Exec(
    id: Long, query: String, setup: Int, pass: Int, cold: Boolean,
    start: Long, end: Long, build: Double, action: Double, error: String)

final case class SetupRun(session: Double, coldPass: Double)
final case class PassRun(pass: Int, start: Long, end: Long, cpu: Double, traced: Boolean)
final case class Checked(query: String, fingerprint: String, rows: Long,
                         expected: String, error: String)

final case class Result(
    setups: Seq[SetupRun], execs: Seq[Exec], passes: Seq[PassRun],
    checks: Seq[Checked], heapMb: Double, storageMb: Double,
    cachedRdds: Int, diskMb: Double, artifactDirs: Int, spans: Seq[Span])

/** Closed loop with one client over one workload's queries: each query
  * starts when the previous one has finished. Cold passes run in fresh
  * sessions over empty temp and local dirs; in the last session the output
  * check runs in an untimed pass, then warm passes until the time is up. */
object Runner {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private val clock = new Clock

  def main(args: Array[String]): Unit = {
    val plan = mapper.readValue(Paths.get(args(0)).toFile, classOf[Plan])
    val queries = graft.SparkEntry.queries
    val missing = (plan.check ++ plan.orders.flatten).distinct.filterNot(queries.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] unknown queries: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    val result = run(plan, queries)
    mapper.writeValue(Paths.get(args(1)).toFile, result)
  }

  private def session(plan: Plan, localDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${plan.cpus}]")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fresh java.io.tmpdir and Spark local dir for setup `i`: the engine
    * keeps durable artifacts under java.io.tmpdir and serves them to any
    * later session that finds them, so a reused dir would hide set-up work. */
  private def freshDirs(plan: Plan, i: String): Path = {
    val tmp = Files.createDirectories(Paths.get(plan.workDir, s"tmp$i"))
    System.setProperty("java.io.tmpdir", tmp.toString)
    Files.createDirectories(Paths.get(plan.workDir, s"local$i"))
  }

  private def run(plan: Plan,
                  queries: Map[String, (SparkSession, String) => DataFrame]): Result = {
    val execs = ArrayBuffer[Exec]()
    val setups = ArrayBuffer[SetupRun]()
    val tracer = if (plan.trace) Some(new Tracer(clock)) else None
    var nextId = 0L
    def runQuery(spark: SparkSession, q: String, setup: Int, pass: Int, cold: Boolean,
                 traced: Option[Tracer], parent: Long): Unit = {
      nextId += 1
      val id = nextId
      val group = id.toString
      val span = traced.map(_.open(parent, "query", q, id))
      def call[T](kind: String)(body: => T): T =
        traced.fold(body)(_.within(span.get, kind, group)(body))
      if (traced.isDefined) spark.sparkContext.setJobGroup(group, q, interruptOnCancel = false)
      val t0 = clock.micros()
      var t1 = 0L
      val err =
        try {
          val df = call("build")(queries(q)(spark, plan.sfDir))
          t1 = clock.micros()
          call("action")(noop(df))
          ""
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $q failed: $e")
            e.toString
        }
      val t2 = clock.micros()
      if (t1 == 0L) t1 = t2
      if (traced.isDefined) spark.sparkContext.clearJobGroup()
      for (t <- traced; s <- span) t.close(s)
      execs += Exec(id, q, setup, pass, cold, t0, t2, (t1 - t0) / 1e6, (t2 - t1) / 1e6, err)
    }

    // The first set-up also pays the JVM's first-use costs (class loading,
    // JIT); the median over the set-ups leaves it out.
    var spark: SparkSession = null
    for (i <- 0 until plan.setups) {
      val local = freshDirs(plan, i.toString)
      val t0 = clock.micros()
      spark = session(plan, local)
      val t1 = clock.micros()
      plan.orders(i).foreach(q => runQuery(spark, q, i, i, cold = true, None, -1L))
      setups += SetupRun((t1 - t0) / 1e6, (clock.micros() - t1) / 1e6)
      if (i + 1 < plan.setups) { spark.stop(); deleteDirs(plan, i.toString) }
    }

    // The output check, untimed, in the last set-up's session. It is also
    // the warm-up pass before the timed ones: the first pass after a cold
    // one was the slowest of most runs measured.
    val checks = plan.check.map(q => check(spark, q, plan, queries(q)))

    // Whole passes only, so every query has the same number of warm
    // samples; the pass under way when the time is up still finishes.
    val passes = ArrayBuffer[PassRun]()
    val deadline = clock.micros() + (plan.seconds * 1e6).toLong
    var p = plan.setups
    val runSpan = tracer.map(_.open(-1L, "run", "warm"))
    while (clock.micros() < deadline && p < plan.orders.size) {
      // Traced runs alternate traced and untraced passes; the difference
      // of their pass times is the tracing overhead.
      val traced = tracer.filter(_ => (p - plan.setups) % 2 == 0)
      tracer.foreach(_.enable(spark, traced.isDefined))
      val passSpan = traced.map(_.open(runSpan.get, "pass", p.toString))
      val cpu0 = cpuSeconds()
      val t0 = clock.micros()
      plan.orders(p).foreach(q =>
        runQuery(spark, q, plan.setups - 1, p, cold = false, traced, passSpan.getOrElse(-1L)))
      for (t <- traced; s <- passSpan) t.close(s)
      passes += PassRun(p, t0, clock.micros(), cpuSeconds() - cpu0, traced.isDefined)
      p += 1
    }
    for (t <- tracer; s <- runSpan) t.close(s)
    val spans = tracer.map(_.spans(spark)).getOrElse(Nil)

    // Retained memory after the passes: live heap right after a full GC,
    // repeated until it settles. Each GC lets the ContextCleaner release
    // what only dead references held; it takes about three.
    def liveHeapMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
        .map(_.getUsed).sum / 1048576.0
    }
    var heap = liveHeapMb()
    var prev = Double.MaxValue
    var gcs = 1
    while (prev - heap > 0.1 && gcs < 8) {
      prev = heap; Thread.sleep(500); heap = liveHeapMb(); gcs += 1
    }
    val storage = spark.sparkContext.getRDDStorageInfo
    val tmpDir = Paths.get(plan.workDir, s"tmp${plan.setups - 1}")
    val artifactDirs = Option(tmpDir.toFile.list()).map(_.count(_.startsWith("graft_idx_"))).getOrElse(0)
    val disk = (dirBytes(tmpDir) + dirBytes(Paths.get(plan.workDir, s"local${plan.setups - 1}"))) / 1048576.0
    spark.stop()
    Result(setups.toSeq, execs.toSeq, passes.toSeq, checks, heap,
      storage.map(i => i.memSize + i.diskSize).sum / 1048576.0, storage.length,
      disk, artifactDirs, spans)
  }

  /** Materializes every row. `count()` is not a substitute: Catalyst
    * prunes the columns and often the work behind them (agg_approx at
    * sf0.1: 0.25 s under count(), 118 s through the noop sink). */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def check(spark: SparkSession, q: String, plan: Plan,
                    fn: (SparkSession, String) => DataFrame): Checked = {
    val want = plan.expected.getOrElse(q, "")
    try {
      val rows = fn(spark, plan.sfDir).collect()
      Checked(q, Fingerprint.of(rows.toSeq), rows.length.toLong, want, "")
    } catch {
      case e: Throwable => Checked(q, "", 0L, want, e.toString)
    }
  }

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Bytes of the regular files under `p`. Files the ContextCleaner
    * deletes during the walk are skipped. */
  private def dirBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult = FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = FileVisitResult.CONTINUE
    })
    total
  }

  private def deleteDirs(plan: Plan, i: String): Unit =
    Seq(s"tmp$i", s"local$i").map(Paths.get(plan.workDir, _)).filter(Files.exists(_)).foreach { p =>
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

/** Monotonic clock in epoch microseconds, so query spans line up with the
  * listener's epoch-millisecond job and stage times. */
final class Clock {
  private val epoch0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def micros(): Long = epoch0 + (System.nanoTime() - nano0) / 1000L
}
