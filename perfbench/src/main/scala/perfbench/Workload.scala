package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A benchmark workload: a set-up that builds the inputs from the seed, an
  * untimed reference, and a closed-loop op. In the traced run each op also
  * runs prefix probes and reports its per-layer numbers.
  */
trait Workload {

  /** Rows (events or documents) one op consumes. */
  def inputRows: Long

  /** Build the inputs from the seed and fill the caches. Repeated to time
    * set-up; every repetition builds the same inputs.
    */
  def setup(): Unit

  /** Compute what the checks compare against. Untimed, after set-up. */
  def reference(): Unit

  /** Untimed, before every op. */
  def reset(): Unit = ()

  /** One op; a request is one op. `t` is the tracer in the traced run,
    * with spans around the public library calls. Returns the untimed check
    * of the op's outputs, which lists every mismatch it finds.
    */
  def op(opId: Int, t: Option[Tracer]): () => Seq[String]

  /** Prefix probes and per-layer numbers of the traced op `opId`, whose op
    * span and listener window are given. Runs after the op span closed.
    */
  def layers(opId: Int, t: Tracer, meter: Meter, op: Span, window: Window): Map[String, Double]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Time a prefix materialization as a probe span, and return its
    * seconds and its listener window.
    */
  def probe(t: Tracer, meter: Meter, opId: Int, name: String)(body: => Unit): (Double, Window) = {
    val m = meter.mark()
    val t0 = System.nanoTime()
    t.span(name, opId, "probe")(body)
    val s = (System.nanoTime() - t0) / 1e9
    (s, meter.since(m))
  }

  /** Seconds of the `call` spans of `opId` whose name starts with `prefix`. */
  def callSeconds(t: Tracer, opId: Int, prefix: String): Double =
    t.all.filter(s => s.opId == opId && s.kind == "call" && s.name.startsWith(prefix))
      .map(_.seconds).sum

  /** Bytes of the regular files under `path`. */
  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.iterator.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def apply(name: String, spark: SparkSession, seed: Long, dir: String, parts: Int): Workload =
    name match {
      case "workflow_run" => new WorkflowRun(spark, seed, dir)
      case "corpus_dedup" => new CorpusDedup(spark, seed, dir, parts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  val names: Seq[String] = Seq("workflow_run", "corpus_dedup")
}
