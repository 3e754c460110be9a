package surqlbench

/** Per-layer metrics from the spans and Spark counts of traced rounds.
  * Times are self times (a span's duration minus its children's), averaged
  * per traced statement, so the layer means add up to the mean statement
  * wall time less `trace.unattributed_pct`. */
object LayerReport {
  /** Tracing overhead: spans per statement times the measured cost of one
    * span, as a share of the mean traced statement. */
  def overhead(out: Output, tr: Tracer, spansPerStmt: Double, stmtNs: Double): Unit =
    out.layer("trace.overhead_pct", 100.0 * spansPerStmt * tr.spanCostNs() / stmtNs.max(1.0), "%")

  val SparkLayers = Seq("parse", "lower", "optimize", "physical", "exec", "consume")
  private val BeforeExec = Set("parse", "lower", "optimize", "physical")

  def spark(out: Output, tr: Tracer, counts: SparkCounts, firstSpan: Int,
      stmts: IndexedSeq[Stmt], stmtIdx: Map[Int, Int],
      rounds: Seq[(Double, Map[String, Double])],
      reference: IndexedSeq[Either[String, Seq[String]]]): Unit = {
    val self = tr.selfNs
    val spans = tr.spans.drop(firstSpan).filter(s => stmtIdx.contains(s.stmt))
    val roots = spans.filter(_.parent == 0)
    val n = roots.size.max(1).toDouble
    def work(pred: Span => Boolean): Work = {
      val w = new Work
      spans.filter(pred).foreach(s => counts.byId.get(s.id).foreach(w += _))
      w
    }
    def selfMs(pred: Span => Boolean): Double =
      spans.filter(pred).map(s => self(s.id)).sum / 1e6

    SparkLayers.foreach(l => out.layer(s"$l.ms", selfMs(_.name == l) / n, "ms"))
    out.layer("stmt.ms", roots.map(_.ns).sum / 1e6 / n, "ms")
    out.layer("trace.unattributed_pct",
      100.0 * roots.map(s => self(s.id)).sum / roots.map(_.ns).sum.max(1L), "%")
    out.layer("lower.jobs", work(s => BeforeExec(s.name)).jobs / n, "count")
    val ex = work(_.name == "exec")
    out.layer("exec.jobs", ex.jobs / n, "count")
    out.layer("exec.stages", ex.stages / n, "count")
    out.layer("exec.tasks", ex.tasks / n, "count")
    out.layer("exec.task_run_ms", ex.taskRunMs / n, "ms")
    out.layer("exec.sched_wait_ms", ex.schedWaitMs / n, "ms")
    out.layer("exec.shuffle_write_bytes", ex.shuffleWriteBytes / n, "bytes")
    out.layer("exec.shuffle_read_bytes", ex.shuffleReadBytes / n, "bytes")
    out.layer("exec.spill_bytes", ex.spillBytes / n, "bytes")
    out.layer("exec.rows_read", ex.rowsRead / n, "count")
    val returned = roots.map(s => reference(stmtIdx(s.stmt)).map(_.size).getOrElse(0)).sum
    out.layer("consume.rows", returned / n, "count")
    out.layer("exec.rows_read_per_row_returned", ex.rowsRead.toDouble / returned.max(1), "ratio")

    // by statement kind (read/write) and by family
    def ofIdx(pred: Int => Boolean)(s: Span) = pred(stmtIdx(s.stmt))
    Seq("read", "write").foreach { k =>
      val isK = ofIdx(i => stmts(i).kind == k) _
      val nk = roots.count(isK).max(1).toDouble
      out.layer(s"$k.lower_ms", selfMs(s => s.name == "lower" && isK(s)) / nk, "ms")
      out.layer(s"$k.exec_ms", selfMs(s => s.name == "exec" && isK(s)) / nk, "ms")
    }
    val nGraph = roots.count(ofIdx(i => stmts(i).family == "graph")).max(1).toDouble
    val g = work(s => s.name == "exec" && ofIdx(i => stmts(i).family == "graph")(s))
    out.layer("graph.exec_jobs", g.jobs / nGraph, "count")
    out.layer("graph.exec_stages", g.stages / nGraph, "count")
    stmts.map(_.family).distinct.foreach { f =>
      out.layer(s"family.$f.s", Stats.median(rounds.map(_._2.getOrElse(f, 0.0))), "s")
    }

    overhead(out, tr, spans.size / n, roots.map(_.ns).sum / n)
    out.layer("trace.spans", spans.size.toDouble, "count")
  }
}
