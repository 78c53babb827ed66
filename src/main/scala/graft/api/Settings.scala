package graft.api

/** Runtime-mutable settings surface — category definitions + validation
  * (ref SettingsEndpoints.cs:28-270 GET/PUT per category;
  * SettingsModels.cs:8-370 the category records and their defaults;
  * IContainerSettingsResolver.cs: per-container override resolution).
  *
  * The Spark mapping: settings live in a tiny registry table in the
  * warehouse (`settings`, swap-rewritten like containers/folders), keyed
  * by (scope, category) where scope is `"global"` or a container id.
  * Values are stored as a string->string map of EXPLICITLY-SET keys only,
  * so resolution is a field-wise merge (SURVEY §1.3 "per-container
  * overrides merged in the driver"):
  *
  *   constructor defaults  <-  global stored entries  <-  container entries
  *
  * (The reference resolves whole-category objects — container override
  * replaces global wholesale, ContainerSettingsResolver.cs:25-56; the
  * field-wise merge here is strictly more expressive: a container can
  * override one knob and track global for the rest.)
  *
  * Categories mirror the reference's: chunking / embedding / search /
  * upload / llm. Keys are snake_case twins of the C# property names.
  * Validation is strict — unknown categories and unknown keys throw, and
  * typed keys must parse — so a typo'd PUT fails at the API boundary, not
  * three ingests later as a silently-default chunk size.
  */
object Settings {

  val GlobalScope = "global"

  /** Known keys per category (ref SettingsModels.cs property surface;
    * provider credential fields collapse to base_url/api_key — this
    * engine's providers take their endpoint config at construction). */
  val CategoryKeys: Map[String, Set[String]] = Map(
    "chunking" -> Set(
      "strategy", "max_chunk_size", "overlap", "min_chunk_size",
      "semantic_threshold", "semantic_buffer_size", "breakpoint_method",
      "breakpoint_amount", "sentence_window_size", "prepend_header_path"),
    "embedding" -> Set(
      "provider", "model", "dimensions", "base_url", "batch_size",
      "timeout_seconds"),
    "search" -> Set(
      "mode", "top_k", "min_score", "alpha", "fusion_method", "auto_cut",
      "rank_fn", "snippet_tokens", "mmr_lambda", "maxsim_tokens",
      "cross_model_search"),
    "upload" -> Set("parallel_workers"),
    "llm" -> Set(
      "provider", "model", "base_url", "temperature", "max_tokens",
      "timeout_seconds"),
    /** Serving-cache knobs (beyond the reference, which hardcodes its
      * search infrastructure): the driver-copy caps documented on
      * [[graft.search.HybridSearch.servingIndex]]. Despite its name,
      * `keyword_driver_cache_max_rows` caps the whole driver copy, which
      * serves both legs; `driver_cache_max_bytes` bounds its content and,
      * apart, its embeddings. GLOBAL scope only —
      * the serving index is store-wide, so per-container overrides have
      * nothing to bind to. Changing them takes effect on the NEXT index
      * build (a PUT invalidates the cached index); they never change
      * indexed rows, so no reindex stamp is needed. */
    "serving" -> Set(
      "keyword_driver_cache_max_rows", "driver_cache_max_bytes"))

  val Categories: Set[String] = CategoryKeys.keySet

  /** Keys that validate, persist, and resolve — but are NOT consumed by
    * the engine: `upload.parallel_workers` maps the reference's worker
    * pool onto the Spark scheduler (SURVEY §2.11 T4), which sizes its own
    * parallelism. The serving layer's settings GET surfaces these under
    * `_advisory` so an operator tuning the knob learns it is inert here
    * instead of silently assuming it took effect. */
  val AdvisoryKeys: Map[String, Set[String]] = Map(
    "upload" -> Set("parallel_workers"))

  private val IntKeys = Set(
    "max_chunk_size", "overlap", "min_chunk_size", "semantic_buffer_size",
    "sentence_window_size", "dimensions", "batch_size", "timeout_seconds",
    "top_k", "snippet_tokens", "maxsim_tokens", "parallel_workers",
    "max_tokens", "keyword_driver_cache_max_rows")
  private val LongKeys = Set("driver_cache_max_bytes")
  private val DoubleKeys = Set(
    "semantic_threshold", "breakpoint_amount", "min_score", "alpha",
    "temperature", "mmr_lambda")
  private val BoolKeys = Set(
    "prepend_header_path", "auto_cut", "cross_model_search")

  /** Reject unknown categories/keys and unparseable typed values. */
  def validate(category: String, values: Map[String, String]): Unit = {
    val keys = CategoryKeys.getOrElse(category,
      throw new IllegalArgumentException(
        s"unknown settings category: $category (known: ${Categories.toSeq.sorted.mkString(", ")})"))
    values.foreach { case (k, v) =>
      require(keys.contains(k), s"unknown $category setting: $k")
      def fail(t: String) = throw new IllegalArgumentException(
        s"$category.$k must be $t, got: $v")
      if (IntKeys.contains(k))
        try { v.toInt; () } catch { case _: NumberFormatException => fail("an integer") }
      else if (LongKeys.contains(k))
        try { v.toLong; () } catch { case _: NumberFormatException => fail("an integer") }
      else if (DoubleKeys.contains(k))
        try { v.toDouble; () } catch { case _: NumberFormatException => fail("a number") }
      else if (BoolKeys.contains(k) && v != "true" && v != "false")
        fail("true|false")
      if (k == "strategy") graft.chunk.Chunkers.forName(v) // throws on unknown
    }
  }
}
