package surqlbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SQLExecution

import graft.surql.{Parser, SparkPlanner}
import graft.surql.ast.SelectStmt

/** One generated statement: `kind` is read or write, `family` its shape. */
final case class Stmt(kind: String, family: String, surql: String)

/** Runs SurrealQL statements through the Spark path, one layer call at a
  * time, so each layer can be timed from outside:
  * `Parser.parse` → `SparkPlanner` lowering → Catalyst optimize → physical
  * planning → execution (the collect's jobs) → consumption (internal rows
  * to client-visible JSON rows). The calls are the ones `SparkPlanner.query`
  * plus `Dataset.collect` make; only SELECTs can skip `query`'s own parse,
  * so the lowering span of a write or script re-parses its text. */
final class SparkStatements(spark: SparkSession, dir: String, tr: Tracer) {

  def run(st: Stmt): Seq[String] = tr.statement("stmt") {
    val ast = tr.span("parse")(Parser.parse(st.surql))
    val df: DataFrame = tr.span("lower") {
      ast.stmts match {
        case Seq(s: SelectStmt) => SparkPlanner.planSelect(spark, dir, s)
        case _                  => SparkPlanner.query(spark, dir, st.surql)
      }
    }
    val qe = df.queryExecution
    tr.span("optimize")(qe.optimizedPlan)
    val plan = tr.span("physical")(qe.executedPlan)
    val rows = tr.span("exec") {
      SQLExecution.withNewExecutionId(qe, Some("collect"))(plan.executeCollect())
    }
    tr.span("consume") {
      val toScala = CatalystTypeConverters.createToScalaConverter(df.schema)
      rows.toSeq.map(r => Json.value(toScala(r)))
    }
  }
}

/** The two Spark-path workloads: a closed loop, one client thread, over
  * whole rounds of generated statements. */
object SparkWorkload {

  /** The `graft.operators` index builds a workload's statements use: the
    * `@@` postings, the HNSW graph behind `<|k,ef|>`, the graph edges. */
  val warms: Map[String, (SparkSession, String) => Any] = Map(
    "fts" -> ((s, d) => graft.operators.FullText.index(s, d)),
    "hnsw" -> ((s, d) => graft.operators.Hnsw.warm(s, d)),
    "edges" -> ((s, d) => graft.operators.GraphOps.warmEdges(s, d)))

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("surqlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def run(a: Args, out: Output): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit = System.err.println(
      f"[surqlbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%6.1f s  $name")
    val tr = new Tracer(false)
    val t0 = System.nanoTime()
    val sessionCpu0 = Jvm.threadCpuNs
    val spark = session(a.cores, a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionCpuS = (Jvm.threadCpuNs - sessionCpu0) / 1e9
    phase("session started")
    val sc = spark.sparkContext
    // engine CPU of a statement: the client thread's own CPU plus the CPU
    // of the Spark tasks its jobs ran (JIT and GC threads are not in it)
    val taskCpu = new SparkCounts(SparkCounts.StmtProperty)
    sc.addSparkListener(taskCpu)
    val clientCpuNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    def billed[T](id: Int)(body: => T): T = {
      sc.setLocalProperty(SparkCounts.StmtProperty, id.toString)
      val c0 = Jvm.threadCpuNs
      try body
      finally {
        clientCpuNs(id) += Jvm.threadCpuNs - c0
        sc.setLocalProperty(SparkCounts.StmtProperty, null)
      }
    }
    def engineCpuNs(id: Int): Long =
      clientCpuNs(id) + taskCpu.byId.get(id).map(_.taskCpuNs).getOrElse(0L)
    val counts = new SparkCounts(SparkCounts.SpanProperty)
    if (a.trace) sc.addSparkListener(counts)
    tr.onEnter = id => sc.setLocalProperty(
      SparkCounts.SpanProperty, if (id == 0) null else id.toString)

    // Set-up, repeated on fresh copies of the corpus so each repetition is
    // a cold build (table resolution and index builds memoize per corpus
    // directory). The first repetition also pays the JVM's warm-up.
    val steps: Seq[(String, (SparkSession, String) => Any)] =
      ("tables" -> ((s: SparkSession, d: String) =>
        graft.Tables.all.foreach(t => graft.Tables(s, d, t).schema))) +:
        a.warms.map(w => w -> warms.getOrElse(w, sys.error(s"unknown index build $w")))
    val stepS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    // set-up repetition r is billed to id -1 - r, statement i to id i
    val setupS = a.corpora.zipWithIndex.map { case (corpus, rep) =>
      tr.enabled = a.trace
      val s0 = System.nanoTime()
      billed(-1 - rep)(tr.statement("setup") {
        steps.foreach { case (name, f) =>
          val w0 = System.nanoTime()
          tr.span(s"setup.$name")(f(spark, corpus))
          stepS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - w0) / 1e9
        }
      })
      (System.nanoTime() - s0) / 1e9
    }
    phase("set-up done")
    val corpus = a.corpora.last
    val cacheBytes = dirBytes(new java.io.File(a.cacheDir)) / a.corpora.size
    val exec = new SparkStatements(spark, corpus, tr)
    val stmts = a.statements

    // Warm-up rounds, untimed: the first one's outputs are the reference
    // every timed execution must reproduce, and the rows checked against
    // DuckDB.
    tr.enabled = false
    def attempt(st: Stmt): Either[String, Seq[String]] =
      try Right(exec.run(st))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val reference = stmts.map(attempt)
    (2 to a.warmupRounds).foreach(_ => stmts.foreach(attempt))
    val refHash = reference.map(_.map(_.hashCode))
    phase("warm-up done")

    val firstSpan = tr.spans.size
    val gc0 = Jvm.gcMs
    val lat = mutable.ArrayBuffer.empty[(Int, Double)] // stmt idx, wall ms
    val stmtIdx = mutable.HashMap.empty[Int, Int] // traced statement id -> stmt idx
    val rounds = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    var attempted, failed = 0L
    val stmtFailed = Array.fill(stmts.size)(0L)
    val errors = mutable.LinkedHashMap.empty[String, Int]
    val steal0 = Jvm.stealTicks
    val clock = new RoundClock(a.seconds)
    tr.enabled = a.trace
    while (clock.another()) {
      val famS = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      val r0 = System.nanoTime()
      stmts.indices.foreach { i =>
        val st = stmts(i)
        val s0 = System.nanoTime()
        val res = billed(i)(attempt(st))
        val ms = (System.nanoTime() - s0) / 1e6
        attempted += 1
        val ok = res.isRight && res.map(_.hashCode) == refHash(i)
        if (!ok) {
          failed += 1
          stmtFailed(i) += 1
          val msg = res.left.toOption.getOrElse("output differs from the warm-up round")
          errors(s"${st.family}: $msg") = errors.getOrElse(s"${st.family}: $msg", 0) + 1
        }
        lat += ((i, ms))
        if (a.trace) stmtIdx(tr.currentStatement) = i
        famS(st.family) += ms / 1e3
      }
      rounds += (((System.nanoTime() - r0) / 1e9, famS.toMap))
      clock.roundEnded()
    }
    tr.enabled = false
    phase("timed rounds done")
    BusDrain(sc)
    val stealPct = {
      val (s1, t1) = Jvm.stealTicks
      100.0 * (s1 - steal0._1) / math.max(1L, t1 - steal0._2)
    }
    System.err.println(f"[surqlbench] host steal during timed rounds: $stealPct%.1f%%")
    val gcMs = Jvm.gcMs - gc0

    def ofKind(kind: String) = lat.filter(l => stmts(l._1).kind == kind).toSeq
    // every statement ran the same number of timed executions
    val runs = lat.size / stmts.size
    def cpuMsPer(ids: Seq[Int]) = ids.map(engineCpuNs).sum / 1e6 / (ids.size * runs).max(1)
    val setupCpuS = a.corpora.indices.map(r => engineCpuNs(-1 - r) / 1e9)
    out.metric("setup_s", sessionCpuS + Stats.median(setupCpuS), "s")
    out.metric("cpu_ms_per_stmt", cpuMsPer(stmts.indices), "ms")
    out.metric("cpu_ms_per_read", cpuMsPer(stmts.indices.filter(stmts(_).kind == "read")), "ms")
    out.metric("cpu_ms_per_write", cpuMsPer(stmts.indices.filter(stmts(_).kind == "write")), "ms")
    out.layer("wall.setup_s", sessionS + Stats.median(setupS), "s")
    out.layer("wall.round_s", Stats.median(rounds.map(_._1).toSeq), "s")
    out.layer("wall.read_ms_p50", Stats.median(ofKind("read").map(_._2)), "ms")
    out.layer("wall.read_ms_p90", Stats.quantile(ofKind("read").map(_._2), 0.9), "ms")
    out.layer("wall.write_ms_p50", Stats.median(ofKind("write").map(_._2)), "ms")
    out.layer("wall.stmts_per_s", lat.size / rounds.map(_._1).sum, "statements/s")
    out.layer("host.steal_pct", stealPct, "%")

    if (a.trace) {
      out.layer("setup.session_s", sessionS, "s")
      stepS.foreach { case (name, xs) =>
        out.layer(if (name == "tables") "setup.tables_s" else s"setup.warm_s.$name",
          Stats.median(xs.toSeq), "s")
      }
      out.layer("setup.cache_bytes", cacheBytes.toDouble, "bytes")
      LayerReport.spark(out, tr, counts, firstSpan, stmts, stmtIdx.toMap, rounds.toSeq, reference)
      out.layer("jvm.gc_ms", gcMs.toDouble, "ms")
      out.layer("jvm.heap_after_gc_mb", Jvm.heapAfterGcMb, "MB")
      tr.writeJsonl(java.nio.file.Paths.get(a.spansOut))
    }
    out.attempted = attempted
    out.failed = failed
    out.errors = errors.toSeq
    out.reference = reference
    out.stmtFailed = stmtFailed.toIndexedSeq
    spark.stop()
    phase("session stopped")
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}
