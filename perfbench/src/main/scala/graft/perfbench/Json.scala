package graft.perfbench

/** The raw observations of one run as JSON, read back by `run.py`. */
object Json {

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def engine(e: EngineDelta): String = obj(Seq(
    "jobs" -> e.jobs.map { case (a, b, l) => s"[$a,$b,$l]" }.mkString("[", ",", "]"),
    "stages" -> e.stages.toString, "tasks" -> e.tasks.toString,
    "list_tasks" -> e.listTasks.toString, "scan_tasks" -> e.scanTasks.toString,
    "task_run_s" -> e.taskRunS.toString, "task_cpu_s" -> e.taskCpuS.toString,
    "gc_s" -> e.gcS.toString, "input_bytes" -> e.inputBytes.toString,
    "output_bytes" -> e.outputBytes.toString,
    "shuffle_write_bytes" -> e.shuffleWriteBytes.toString,
    "shuffle_read_bytes" -> e.shuffleReadBytes.toString,
    "spill_bytes" -> e.spillBytes.toString, "plan_s" -> e.planS.toString))

  private def op(o: Main.Op): String = obj(Seq(
    "name" -> str(o.name), "wall_s" -> o.wallS.toString, "ok" -> o.ok.toString,
    "error" -> str(o.error), "build_s" -> o.buildS.toString,
    "list_s" -> o.listS.toString, "sink_s" -> o.sinkS.toString,
    "sink_span" -> s"[${o.sinkSpan._1},${o.sinkSpan._2}]",
    "span" -> s"[${o.span._1},${o.span._2}]",
    "out" -> str(o.outDir), "files" -> o.files.toString,
    "first_ladder" -> o.firstLadder.toString,
    "calls" -> obj(o.calls.toSeq.map { case (k, v) => k -> v.toString }),
  ) ++ o.engine.map(e => "engine" -> engine(e)))

  def strings(kv: Seq[(String, String)]): String =
    obj(kv.map { case (k, v) => k -> str(v) })

  def result(setupEndMs: Long, warmUpS: Double, peakHeapBytes: Long,
      cores: Int, ops: Seq[Main.Op]): String =
    obj(Seq("setup_end_ms" -> setupEndMs.toString,
      "warm_up_s" -> warmUpS.toString,
      "peak_heap_bytes" -> peakHeapBytes.toString, "cores" -> cores.toString,
      "ops" -> ops.map(op).mkString("[", ",", "]"))) + "\n"

  /** Order-independent digest of a query answer: SHA-256 over the sorted
    * rendering of its rows. */
  def digest(rows: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.toSeq.sorted.foreach { r =>
      md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
