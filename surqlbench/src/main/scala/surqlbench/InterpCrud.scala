package surqlbench

import scala.collection.mutable

import graft.surql._

/** `interp_crud`: single-record CREATE / SELECT / UPDATE on the interpreter,
  * one statement per `Parser.parse` + `Interp.run` call, no Spark session.
  * Each round also DELETEs the records it created, so the store keeps its
  * set-up size and the throughputs belong to that size. Half the ids are
  * integers, half strings. Every output is checked against the workload's
  * own model of what it wrote. */
object InterpCrud {
  private val Table = "person"
  private val PerRound = 8 // statements of each kind per round
  private val Templates = 16 // distinct rounds, cycled

  private sealed trait Key { def raw: String; def v: V; def sql = s"$Table:$raw" }
  private final case class IntKey(i: Long) extends Key {
    def raw = i.toString; def v: V = VInt(i)
  }
  private final case class StrKey(s: String) extends Key {
    def raw = s; def v: V = VStr(s)
  }

  private final case class Op(kind: String, text: String, key: Key, age: Long)

  def run(a: Args, out: Output): Unit = {
    val rnd = new java.util.Random(a.seed)
    val n = a.store
    val keys: IndexedSeq[Key] =
      (0 until n).map(i => if (i % 2 == 0) IntKey(i / 2) else StrKey(s"s${i / 2}"))
    val model = mutable.HashMap.empty[Key, (String, Long)]
    keys.foreach(k => model(k) = (s"n-${k.raw}", 18L + rnd.nextInt(60)))

    def preload(): Interp = {
      val it = new Interp()
      it.namespaces("test") = "DEFINE NAMESPACE test"
      it.databases("test") = "DEFINE DATABASE test"
      keys.grouped(500).foreach { chunk =>
        val docs = chunk.map { k =>
          val (name, age) = model(k)
          s"{id: ${k.v.render}, name: '$name', age: $age}"
        }
        it.run(Parser.parse(docs.mkString(s"INSERT INTO $Table [", ", ", "];"))).foreach {
          case QErr(m) => sys.error(s"preload failed: $m")
          case _ => ()
        }
      }
      it
    }
    var interp: Interp = null
    val setups = (1 to a.setupReps).map { _ => // (wall s, CPU s)
      val t0 = System.nanoTime()
      val c0 = Jvm.threadCpuNs
      interp = preload()
      ((System.nanoTime() - t0) / 1e9, (Jvm.threadCpuNs - c0) / 1e9)
    }

    // round templates: fresh ids to create (and delete again), stored ids
    // to read and to update
    val rounds: IndexedSeq[IndexedSeq[Op]] = (0 until Templates).map { t =>
      val fresh = (0 until PerRound).map { j =>
        if (j % 2 == 0) IntKey(1000000L + t * PerRound + j) else StrKey(s"new${t}x$j")
      }
      val ops = mutable.ArrayBuffer.empty[Op]
      fresh.foreach { k =>
        val age = 18L + rnd.nextInt(60)
        ops += Op("create", s"CREATE ${k.sql} SET name = 'c-${k.raw}', age = $age;", k, age)
        val r = keys(rnd.nextInt(n))
        ops += Op("select", s"SELECT * FROM ${r.sql};", r, 0)
        val u = keys(rnd.nextInt(n))
        ops += Op("update", s"UPDATE ${u.sql} SET age += 1;", u, 0)
      }
      fresh.foreach(k => ops += Op("delete", s"DELETE ${k.sql};", k, 0))
      ops.toIndexedSeq
    }

    def doc(res: Seq[QueryResult]): Option[(V, V, V)] = res match {
      case Seq(QOk(VArr(Vector(VObj(f))))) =>
        Some((f.getOrElse("id", VNone), f.getOrElse("name", VNone), f.getOrElse("age", VNone)))
      case _ => None
    }
    def expect(k: Key, name: String, age: Long) =
      Some((VRid(Table, k.v), VStr(name), VInt(age)))

    val tr = new Tracer(false)
    var attempted, failed = 0L
    var created, deleted = 0L
    val errors = mutable.LinkedHashMap.empty[String, Int]
    val lat = mutable.ArrayBuffer.empty[(String, Double, Double)] // kind, wall ms, CPU ms
    val roundS = mutable.ArrayBuffer.empty[Double]
    val kindOf = mutable.HashMap.empty[Int, String] // traced statement id -> kind
    var r = 0
    // Rounds keep the model in step whether timed or not; untimed warm-up
    // rounds (2 s) let the JIT compile the statement paths first.
    def loop(seconds: Double, timed: Boolean): Unit = {
      tr.enabled = timed && a.trace
      val clock = new RoundClock(seconds)
      while (clock.another()) {
        val r0 = System.nanoTime()
        rounds(r % Templates).foreach { op =>
          val s0 = System.nanoTime()
          val c0 = Jvm.threadCpuNs
          val res = try Right(tr.statement("stmt") {
              val ast = tr.span("parse")(Parser.parse(op.text))
              tr.span("interp")(interp.run(ast))
            }) catch { case e: Throwable => Left(e.toString) }
          val ms = (System.nanoTime() - s0) / 1e6
          val cpuMs = (Jvm.threadCpuNs - c0) / 1e6
          val ok = res match {
            case Left(_) => false
            case Right(rs) => op.kind match {
              case "create" =>
                val ok = doc(rs) == expect(op.key, s"c-${op.key.raw}", op.age)
                if (ok) { created += 1; model(op.key) = (s"c-${op.key.raw}", op.age) }
                ok
              case "select" =>
                val (name, age) = model(op.key)
                doc(rs) == expect(op.key, name, age)
              case "update" =>
                val (name, age) = model(op.key)
                model(op.key) = (name, age + 1)
                doc(rs) == expect(op.key, name, age + 1)
              case _ =>
                if (model.remove(op.key).isDefined) deleted += 1
                rs == Seq(QOk(VArr(Vector())))
            }
          }
          if (timed) {
            attempted += 1
            if (!ok) {
              failed += 1
              val msg = s"${op.kind}: ${res.fold(identity, _.map(_.toString).mkString(", ").take(200))}"
              errors(msg) = errors.getOrElse(msg, 0) + 1
            }
            lat += ((op.kind, ms, cpuMs))
            if (a.trace) kindOf(tr.currentStatement) = op.kind
          }
        }
        if (timed) roundS += (System.nanoTime() - r0) / 1e9
        clock.roundEnded()
        r += 1
      }
    }
    loop(2.0, timed = false)
    val steal0 = Jvm.stealTicks
    val gc0 = Jvm.gcMs
    loop(a.seconds, timed = true)
    tr.enabled = false
    val stealPct = {
      val (s1, t1) = Jvm.stealTicks
      100.0 * (s1 - steal0._1) / math.max(1L, t1 - steal0._2)
    }
    System.err.println(f"[surqlbench] host steal during timed rounds: $stealPct%.1f%%")
    val gcMs = Jvm.gcMs - gc0

    // the final count must equal the records created less those deleted
    val expectedCount = n + created - deleted
    attempted += 1
    interp.run(Parser.parse(s"SELECT count() FROM $Table GROUP ALL;")) match {
      case Seq(QOk(VArr(Vector(VObj(f))))) if f.get("count").contains(VInt(expectedCount)) => ()
      case other =>
        failed += 1
        errors(s"count: expected $expectedCount, got $other") = 1
    }

    def ofKind(kinds: String*) = lat.filter(l => kinds.contains(l._1)).toSeq
    val writes = ofKind("create", "update", "delete")
    out.metric("setup_s", Stats.median(setups.map(_._2)), "s")
    out.metric("cpu_ms_per_stmt", Stats.mean(lat.map(_._3).toSeq), "ms")
    out.metric("cpu_ms_per_read", Stats.mean(ofKind("select").map(_._3)), "ms")
    out.metric("cpu_ms_per_write", Stats.mean(writes.map(_._3)), "ms")
    out.layer("wall.setup_s", Stats.median(setups.map(_._1)), "s")
    out.layer("wall.round_s", Stats.median(roundS.toSeq), "s")
    out.layer("wall.read_ms_p50", Stats.median(ofKind("select").map(_._2)), "ms")
    out.layer("wall.read_ms_p90", Stats.quantile(ofKind("select").map(_._2), 0.9), "ms")
    out.layer("wall.write_ms_p50", Stats.median(writes.map(_._2)), "ms")
    out.layer("wall.stmts_per_s", lat.size / roundS.sum, "statements/s")
    out.layer("host.steal_pct", stealPct, "%")
    def perS(k: String) = {
      val xs = ofKind(k).map(_._2)
      if (xs.isEmpty) 0.0 else 1000.0 * xs.size / xs.sum
    }
    out.layer("interp.create_per_s", perS("create"), "statements/s")
    out.layer("interp.read_per_s", perS("select"), "statements/s")
    out.layer("interp.update_per_s", perS("update"), "statements/s")
    out.layer("interp.records", expectedCount.toDouble, "count")

    if (a.trace) {
      val self = tr.selfNs
      val roots = tr.spans.filter(_.parent == 0)
      val nStmt = roots.size.max(1).toDouble
      out.layer("parse.ms", tr.spans.filter(_.name == "parse").map(s => self(s.id)).sum / 1e6 / nStmt, "ms")
      out.layer("stmt.ms", roots.map(_.ns).sum / 1e6 / nStmt, "ms")
      out.layer("trace.unattributed_pct",
        100.0 * roots.map(s => self(s.id)).sum / roots.map(_.ns).sum.max(1L), "%")
      Seq("create", "select", "update", "delete").foreach { k =>
        val ks = tr.spans.filter(s => s.name == "interp" && kindOf.get(s.stmt).contains(k))
        out.layer(s"interp.run_ms.$k", ks.map(s => self(s.id)).sum / 1e6 / ks.size.max(1), "ms")
      }
      LayerReport.overhead(out, tr, tr.spans.size / nStmt, roots.map(_.ns).sum / nStmt)
      out.layer("trace.spans", tr.spans.size.toDouble, "count")
      out.layer("jvm.gc_ms", gcMs.toDouble, "ms")
      out.layer("jvm.heap_after_gc_mb", Jvm.heapAfterGcMb, "MB")
      tr.writeJsonl(java.nio.file.Paths.get(a.spansOut))
    }
    out.attempted = attempted
    out.failed = failed
    out.errors = errors.toSeq
  }
}
