package surqlbench

import scala.collection.mutable

/** Command line of the measuring process (`run.py` builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    work: String,
    cacheDir: String,
    corpora: Seq[String],
    warms: Seq[String],
    statements: IndexedSeq[Stmt],
    setupReps: Int,
    warmupRounds: Int,
    store: Int,
    out: String,
    spansOut: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    // one statement per line: kind <TAB> family <TAB> SurrealQL
    val stmts = m.get("statements").map { p =>
      scala.io.Source.fromFile(p, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
        val Array(kind, family, surql) = l.split("\t", 3)
        Stmt(kind, family, surql)
      }.toIndexedSeq
    }.getOrElse(IndexedSeq.empty)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("cores", "4").toInt, m("work"), m("cache-dir"), list("corpora"),
      list("warms"), stmts, m.getOrElse("setup-reps", "3").toInt,
      m.getOrElse("warmup-rounds", "1").toInt,
      m.getOrElse("store", "0").toInt, m("out"), m("spans-out"))
  }
}

/** What the measuring process hands back to `run.py`. */
final class Output {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted, failed = 0L
  var errors: Seq[(String, Int)] = Nil
  /** Warm-up outputs per statement: rows as JSON, or the error. */
  var reference: IndexedSeq[Either[String, Seq[String]]] = IndexedSeq.empty
  /** Timed executions per statement that failed or differed from warm-up. */
  var stmtFailed: IndexedSeq[Long] = IndexedSeq.empty

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  private def named(m: mutable.LinkedHashMap[String, (Double, String)]) =
    JsonText(Json.obj(m.toSeq.map { case (k, (v, u)) =>
      k -> JsonText(Json.obj(Seq("value" -> v, "unit" -> u)))
    }))

  def write(path: String): Unit = {
    val ref = reference.map {
      case Right(rows) => JsonText(Json.obj(Seq("rows" -> JsonText(rows.mkString("[", ",", "]")))))
      case Left(err)   => JsonText(Json.obj(Seq("error" -> err)))
    }
    val text = Json.obj(Seq(
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.map { case (msg, n) => Seq(JsonText(Json.str(msg)), n) },
      "metrics" -> named(metrics), "layers" -> named(layers), "reference" -> ref,
      "stmt_failed" -> stmtFailed))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val out = new Output
    a.workload match {
      case "interp_crud" => InterpCrud.run(a, out)
      case _             => SparkWorkload.run(a, out)
    }
    out.write(a.out)
  }
}
