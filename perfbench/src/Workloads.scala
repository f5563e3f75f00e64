package perfbench

/** The benchmark's workloads. Key lists are trimmed from the full
  * families so that one pass fits a few seconds on four cores while each
  * list keeps the layer mix it exists to isolate (README.md). */
object Workloads {
  final case class BatchWorkload(name: String, keys: Seq[String])

  /** Many small plans: windows + MATCH_RECOGNIZE (API and SQL parser). */
  val eventTime = BatchWorkload("event_time", Seq(
    "wnd_sliding", "event_cep", "event_cep_sql_subset"))

  /** Driver-side fixpoint loops that run eagerly while the frame is built. */
  val fixpointLoops = BatchWorkload("fixpoint_loops", Seq(
    "graph_pagerank", "text_bpe_vocab"))

  /** Row-wise kernels and shuffles; `count()` would prune most of this. */
  val llmRowwise = BatchWorkload("llm_rowwise", Seq(
    "fn_json", "text_quality", "sim_cosine_topk", "dedup_embed_cosine",
    "join_range_bucketed"))

  val batch: Seq[BatchWorkload] = Seq(eventTime, fixpointLoops, llmRowwise)

  val StreamReplay = "stream_replay"

  val names: Seq[String] = batch.map(_.name) :+ StreamReplay

  /** The api module that owns each key's operator family. Per-module
    * layer metrics sum over the keys mapped here. */
  val modules: Seq[String] = Seq(
    "Windows", "Cep", "Graphs", "Similarity", "Dedup", "Bpe", "TextOps", "Joins", "functions")

  def moduleOf(key: String): String = key match {
    case k if k.startsWith("wnd_") => "Windows"
    case k if k.startsWith("event_cep") => "Cep"
    case k if k.startsWith("graph_") => "Graphs"
    case k if k.startsWith("sim_") => "Similarity"
    case k if k.startsWith("dedup_") => "Dedup"
    case k if k.startsWith("join_") => "Joins"
    case "text_bpe_vocab" => "Bpe"
    case k if k.startsWith("text_") => "TextOps"
    case k if k.startsWith("fn_") => "functions"
    case k => throw new IllegalArgumentException(s"no module mapped for key $k")
  }
}
