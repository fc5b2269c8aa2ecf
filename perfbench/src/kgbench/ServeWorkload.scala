package kgbench

/** `serve`: one closed-loop client of a built graph, on its two read/grow
  * paths in turn. Each round is one pass over the query subset on the
  * committed snapshot, then one memory cycle through the MCP server: an
  * `add_memories` and its 4 `retrieve_relevant_memories` calls. Set-up,
  * checks and per-layer figures are those of the two parts; `p50_ms` is
  * the median retrieve latency.
  */
final class ServeWorkload(query: QueryWorkload, memory: MemoryWorkload) extends Workload {
  private val parts = Seq(query, memory)

  def workUnit: String = "queries and requests"
  def p50Kind: String = "retrieve"
  def stage(rep: Int): Unit = parts.foreach(_.stage(rep))
  override def prebuild(): Unit = parts.foreach(_.prebuild())
  def warmup(): Unit = parts.foreach(_.warmup())
  def round(m: Measurement, tracer: Option[Tracer]): Unit = parts.foreach(_.round(m, tracer))
  override def finish(m: Measurement): Unit = parts.foreach(_.finish(m))
  def layers(tracer: Tracer): Layers = query.layers(tracer) ++ memory.layers(tracer)
}
