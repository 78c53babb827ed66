package graft.api

import graft.embed.Embedder
import graft.ingest.IndexBuild
import graft.model.{ChunkingConfig, SearchHit, SearchRequest}
import graft.search.{CrossEncoderProvider, HybridSearch, Reranker}
import graft.store.TxLog
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's query surface — the Scala equivalent of the reference's 11
  * MCP tools / REST endpoints (SURVEY §2.12, ref McpTools.cs):
  * container_create/list/delete, search_knowledge, list_files, upload_file,
  * delete_file, bulk_upload, bulk_delete, get_document, container_stats.
  * A long-lived instance holds cached index DataFrames, so interactive
  * queries pay Spark job latency, not scan latency (BASELINE translation:
  * steady-state hybrid latency over cached index frames).
  *
  * Storage is a parquet warehouse under the `store/TxLog` commit log. Its
  * root holds `_txlog`, the three logged tables chunks/vectors/ledger
  * (partitioned by container_id; vectors also by model_id), the registry
  * tables and the embed cache — nothing else: the keyword index is the
  * serving cache built from chunks, not a stored table. This store's
  * ingest (chunk → embed → ledger, [[graft.ingest.IndexBuild]]'s stages)
  * is the engine's batch writer of the logged tables, and they change
  * only by log commits. An UPSERT (replace + append across all three
  * tables) is ONE atomic commit (the reference's Postgres transaction, ref
  * PgVectorStore.cs:144-184), deletes are stats-pruned copy-on-write
  * commits, and readers get snapshot isolation, the change feed and time
  * travel. Containers are partition values, so create/delete are
  * metadata-cheap and every read prunes to its container partition (P1).
  * Registry tables (containers/folders/settings) and the embed cache stay
  * plain parquet — driver-rewritten metadata / optimization tables.
  *
  * Construction adopts the warehouse into the log: a warehouse without a
  * log registers its existing chunks/vectors/ledger files as the initial
  * commit (CONVERT-style — a populated plain-parquet warehouse migrates
  * instead of vanishing behind an empty snapshot), and an empty one
  * starts with an empty commit.
  */
final class KnowledgeStore(
    spark: SparkSession,
    warehouse: String,
    embedder: Embedder = graft.embed.HashEmbedder(),
    cfg: ChunkingConfig = ChunkingConfig(),
    chunkerName: String = "recursive",
    /** Ingestion progress sink (ref IngestionProgressBroadcaster): the
      * upload path emits one event per phase per job. Default: none. */
    progress: graft.ingest.ProgressListener = graft.ingest.ProgressListener.Noop,
    /** The commit log is the store's only storage engine; `false` is
      * rejected with an IllegalArgumentException. */
    transactional: Boolean = true) {
  import spark.implicits._

  if (!transactional)
    throw new IllegalArgumentException(
      "KnowledgeStore(transactional = false) is not supported: every store " +
        "commits through the TxLog commit log")

  /** The log-managed data tables and their partition columns. */
  private val DataTables = Seq(
    "chunks" -> Seq("container_id"),
    "vectors" -> Seq("container_id", "model_id"),
    "ledger" -> Seq("container_id"))

  if (!TxLog.exists(spark, warehouse) &&
      TxLog.adopt(spark, warehouse, DataTables.map(_._1)) < 0)
    TxLog.commit(spark, warehouse, Nil)

  /** Validation bounds (ref ValidationConstants.cs:6-8,19-21). */
  val MaxTopK = 100
  val MaxQueryChars = 10000
  val MaxBulk = 100
  val MaxFileNameLength = graft.ingest.UploadValidation.MaxFileNameLength
  val MaxPathDepth = graft.ingest.UploadValidation.MaxPathDepth

  private val containersPath = s"$warehouse/containers"

  private def containersDf: DataFrame = {
    var df = try spark.read.parquet(containersPath)
    catch { case _: Throwable =>
      Seq.empty[(String, String, String, Boolean, String, Long)]
        .toDF("container_id", "name", "connector_type", "writable",
          "description", "created_ms") }
    // columns added over time default for older warehouses: the
    // write-guard flag, then (r15) description + created_ms (ref
    // Container record: Id/Name/Description/ConnectorType/CreatedAt)
    if (!df.columns.contains("writable"))
      df = df.withColumn("writable", lit(true))
    if (!df.columns.contains("description"))
      df = df.withColumn("description", lit(""))
    if (!df.columns.contains("created_ms"))
      df = df.withColumn("created_ms", lit(0L))
    df
  }

  private def tableOrEmpty(path: String, empty: => DataFrame): DataFrame =
    try spark.read.parquet(path) catch { case _: Throwable => empty }

  /** Data-table reader at the log's current snapshot (staged or
    * logically-removed files are invisible). Only a table with no live
    * files reads as empty; a logged file missing on disk throws, so a
    * damaged table never passes for an empty container. */
  private def managed(table: String): DataFrame = {
    val snap = TxLog.snapshot(spark, warehouse)
    if (snap.files(table).isEmpty) spark.emptyDataFrame
    else TxLog.readAt(spark, warehouse, table, snap)
  }

  private def chunksDf: DataFrame = managed("chunks")
  private def vectorsDf: DataFrame = managed("vectors")
  private def ledgerDf: DataFrame = managed("ledger")

  // ---- containers -------------------------------------------------------

  /** container_create (ref McpTools.cs:17): names are unique. Write
    * permission mirrors the reference's ContainerWriteGuard (:12-30):
    * S3/AzureBlob connectors are ALWAYS read-only, ManagedStorage always
    * writable, Filesystem honors the per-container flag.
    */
  def createContainer(
      name: String,
      connectorType: String = "ManagedStorage",
      writable: Boolean = true,
      description: String = ""): String = {
    // Reference trims before validating (ContainersEndpoints.cs:31), then
    // rejects anything outside ^[a-z0-9][a-z0-9-]*[a-z0-9]$ 2-128 with a
    // 400 (PathUtilities.cs:13-17). Enforced HERE so every transport
    // (REST, MCP, sync) inherits one rule — the UploadValidation pattern.
    val trimmed = if (name == null) "" else name.trim
    if (!graft.ingest.PathUtil.isValidContainerName(trimmed))
      throw new IllegalArgumentException(
        graft.ingest.PathUtil.containerNameRule)
    val existing = listContainers()
    require(!existing.exists(_._2 == trimmed), s"container '$trimmed' exists")
    val id = java.util.UUID.nameUUIDFromBytes(trimmed.getBytes("UTF-8")).toString
    val effective = connectorType match {
      case "S3" | "AzureBlob" => false
      case "ManagedStorage" => true
      case _ => writable
    }
    val row = Seq((id, trimmed, connectorType, effective,
        Option(description).getOrElse(""), System.currentTimeMillis()))
      .toDF("container_id", "name", "connector_type", "writable",
        "description", "created_ms")
    // first container: plain write; otherwise union through containersDf
    // (which defaults columns older rows lack) and swap-rewrite, so the
    // registry never holds mixed schemas a plain parquet read would
    // resolve nondeterministically
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(containersPath), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(containersPath)))
      row.write.parquet(containersPath)
    else rewriteRegistry(containersPath, containersDf.unionByName(row))
    id
  }

  /** container_list: (id, name, connector_type). */
  def listContainers(): Seq[(String, String, String)] =
    containersDf.select("container_id", "name", "connector_type")
      .as[(String, String, String)].collect().toSeq

  /** Full listing rows (ref Container record: the REST listing carries
    * description and created alongside the identity triple). */
  def listContainersDetailed()
      : Seq[(String, String, String, Boolean, String, Long)] =
    containersDf.select("container_id", "name", "connector_type",
        "writable", "description", "created_ms")
      .as[(String, String, String, Boolean, String, Long)].collect().toSeq

  /** One container's record (ref ContainersEndpoints.cs:101 GetContainer
    * / :116 GetContainerByName — names compare lowercased there because
    * creation already lowercases; ours validates the same alphabet):
    * (container_id, name, connector_type, writable). */
  def containerDetails(idOrName: String, byName: Boolean = false)
      : Option[(String, String, String, Boolean, String, Long)] = {
    val key = if (byName) "name" else "container_id"
    val v = if (byName) idOrName.toLowerCase else idOrName
    containersDf.filter(col(key) === v)
      .select("container_id", "name", "connector_type", "writable",
        "description", "created_ms")
      .as[(String, String, String, Boolean, String, Long)]
      .collect().headOption
  }

  /** Global embedding-model discovery (ref SettingsEndpoints.cs:235
    * GET /settings/embedding-models): every model with vectors across
    * ALL containers — one grouped job, the A2 shape without the
    * container filter. */
  def listModelsGlobal(): Seq[(String, Int, Long)] = {
    val v = vectorsDf
    if (!v.columns.contains("model_id")) return Seq.empty
    v.groupBy(col("model_id"), size(col("embedding")).as("dimensions"))
      .agg(count(lit(1)).as("vectors"))
      .orderBy(desc("vectors"), col("model_id"))
      .as[(String, Int, Long)].collect().toSeq
  }

  /** Document count per container in ONE grouped job — the listing
    * surface's companion (per-container [[containerStats]] calls from a
    * listing are an N+1: K containers = K ledger scans). */
  def documentCounts(): Map[String, Long] = {
    val led = ledgerDf
    if (!led.columns.contains("container_id")) Map.empty
    else led.groupBy("container_id").count().as[(String, Long)].collect().toMap
  }

  /** Write-permission check (ref ContainerWriteGuard.cs:12-30). */
  def isWritable(containerId: String): Boolean =
    containersDf.filter(col("container_id") === containerId)
      .select("writable").as[Boolean].collect().headOption.getOrElse(true)

  private def requireWritable(containerId: String): Unit =
    require(isWritable(containerId),
      s"container $containerId is read-only (connector write guard)")

  /** container_delete (ref :64): removes the container's chunk/vector/
    * ledger files from the log in ONE commit whose change feed carries
    * the rows as delete pre-images (the bytes stay for time travel until
    * [[maintain]]'s vacuum), and drops its folder rows (container ids are
    * name-derived UUIDs, so a recreated same-named container would
    * otherwise inherit ghost folders). */
  def deleteContainer(containerId: String): Unit = {
    // ref PostgresContainerStore.DeleteAsync:96-119 — a MANAGED-STORAGE
    // container that still holds documents refuses deletion (the store
    // owns those bytes; silent cascade would destroy data). Watcher-only
    // connectors (Filesystem/S3/AzureBlob) delete freely: they just stop
    // being indexed, the source of truth is the remote.
    containerDetails(containerId).foreach { case (_, name, ct, _, _, _) =>
      if (ct == "ManagedStorage") {
        val docs = documentCounts().getOrElse(containerId, 0L)
        if (docs > 0)
          throw new IllegalArgumentException(
            s"Container '$name' is not empty ($docs documents). " +
              "Delete all files first.")
      }
    }
    // logically remove the container's live files in one metadata
    // commit — readers flip atomically, in-flight snapshot and
    // time-travel reads keep working, and VACUUM reclaims the bytes on
    // its retention cadence. The removes carry a `delete` action per
    // touched table: without it readChanges classifies a remove-only
    // commit as a rewrite and CDC consumers (IncrementalView) silently
    // miss the container's deletion. The predicate replays the
    // pre-images exactly — every row in these files belongs to the
    // container (partition dirs).
    val snap = TxLog.snapshot(spark, warehouse)
    val removes = DataTables.map(_._1).flatMap { t =>
      snap.files(t).collect {
        case (rel, _) if rel.startsWith(s"container_id=$containerId/") =>
          TxLog.Remove(t, rel)
      }
    }
    if (removes.nonEmpty)
      commit(Nil, removes, deletes = removes.map(_.table).distinct
        .map(_ -> s"(container_id = '$containerId')").toMap)
    // registry + folders rewrite as Spark jobs (temp dir + swap): these
    // tables are metadata-sized, but rows never funnel through the
    // driver, so a deployment that accretes millions of folders pays a
    // distributed rewrite, not a driver collect
    rewriteRegistry(foldersPath,
      foldersDf.filter(col("container_id") =!= containerId))
    rewriteRegistry(containersPath,
      containersDf.filter(col("container_id") =!= containerId))
    invalidate()
  }

  /** Swap-rewrite a registry table to `kept` (read from the same path):
    * materialize to a dot-prefixed temp dir first (hidden from Spark's
    * listing), then delete + rename — readers see old-or-new. An empty
    * `kept` leaves no table (the readers' missing-table default). */
  private def rewriteRegistry(path: String, kept: DataFrame): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(target)) return
    val parent = target.getParent
    val tmp = new org.apache.hadoop.fs.Path(parent,
      s".registry-rewrite-${java.util.UUID.randomUUID}")
    kept.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // emptiness read from the WRITTEN files — `kept`'s plan reads the
    // original path, which is about to disappear
    val keptEmpty = spark.read.parquet(tmp.toString).isEmpty
    fs.delete(target, true)
    // zero kept rows still writes a footer-only part (no partitionBy) —
    // readable — but no table at all is the cleaner post-state
    if (keptEmpty) fs.delete(tmp, true)
    else if (!fs.rename(tmp, target))
      sys.error(s"registry rewrite rename failed: $tmp -> $target")
    spark.catalog.refreshByPath(path)
  }

  // ---- runtime-mutable settings (ref SettingsEndpoints.cs:28-270,
  // ContainerSettingsResolver.cs; SURVEY §1.3 per-container override merge).
  // A tiny registry table `settings` keyed by (scope, category): scope is
  // "global" or a container id, values a map of explicitly-set keys.
  // Resolution is field-wise: constructor defaults <- global <- container.
  // The constructor's embedder/cfg/chunkerName become the LOWEST layer
  // (the reference's appsettings.json role), so existing deployments that
  // never PUT a setting behave exactly as before. -----------------------

  private val settingsPath = s"$warehouse/settings"

  /** (entries, table stamp at load, last staleness probe) — the same
    * listing-stamp probe the key registry runs (see
    * [[graft.api.TableStamp]]): a settings PUT from ANOTHER server
    * process on the shared warehouse propagates here within
    * [[ApiKeyRegistry.StalenessProbeMs]] (5 s) instead of living until
    * restart. One FS stat per window, zero Spark. (Two processes doing
    * concurrent read-modify-write PUTs of one scope can still race — the
    * settings table is whole-row-replace per scope; cross-process
    * serialization of WRITES is out of scope, propagation of reads is
    * the contract here.) */
  @volatile private var settingsCache:
      Option[(Map[(String, String), (Map[String, String], Long)], Long, Long)] = None

  private def loadSettings(): Map[(String, String), (Map[String, String], Long)] = {
    val now = System.currentTimeMillis()
    val prev = settingsCache
    prev match {
      case Some((m, _, probed))
          if now - probed < ApiKeyRegistry.StalenessProbeMs => m
      case _ =>
        // stamp sampled BEFORE the read: a write racing this reload makes
        // the stamp mismatch on the NEXT probe (stale-toward-reload)
        val s0 = TableStamp.of(spark, settingsPath)
        prev match {
          case Some((m, stamp, _)) if stamp == s0 =>
            settingsCache = Some((m, stamp, now)); m
          case _ =>
            try {
              val loaded =
                if (s0 == TableStamp.Absent)
                  Map.empty[(String, String), (Map[String, String], Long)]
                else spark.read.parquet(settingsPath)
                  .select("scope", "category", "entries", "updated_ms")
                  .as[(String, String, Map[String, String], Long)].collect()
                  .map { case (s, c, m, ts) => (s, c) -> (m, ts) }.toMap
              settingsCache = Some((loaded, s0, now))
              loaded
            } catch { case _: Throwable =>
              // a read landing in a concurrent swap's delete->rename gap:
              // serve the previous entries and retry next call
              prev.map(_._1).getOrElse(
                Map.empty[(String, String), (Map[String, String], Long)])
            }
        }
    }
  }

  /** Swap-write the whole settings registry (driver-sized metadata, same
    * old-or-new reader guarantee as the other registry tables). */
  private def writeSettingsTable(
      all: Map[(String, String), (Map[String, String], Long)]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(settingsPath), spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(settingsPath)
    if (all.isEmpty) { fs.delete(target, true) }
    else {
      val tmp = new org.apache.hadoop.fs.Path(target.getParent,
        s".settings-rewrite-${java.util.UUID.randomUUID}")
      all.toSeq.map { case ((sc, cat), (m, ts)) => (sc, cat, m, ts) }
        .toDF("scope", "category", "entries", "updated_ms")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      fs.delete(target, true)
      if (!fs.rename(tmp, target))
        sys.error(s"settings rewrite rename failed: $tmp -> $target")
    }
    spark.catalog.refreshByPath(settingsPath)
    settingsCache = Some((all, TableStamp.of(spark, settingsPath),
      System.currentTimeMillis()))
  }

  /** The constructor-level defaults per category — the bottom layer of
    * resolution (the reference's appsettings/IOptionsMonitor fallback,
    * SettingsEndpoints.cs:36-43). */
  private def constructorDefaults(category: String): Map[String, String] =
    category match {
      case "chunking" => Map(
        "strategy" -> chunkerName,
        "max_chunk_size" -> cfg.maxChunkSize.toString,
        "overlap" -> cfg.overlap.toString,
        "min_chunk_size" -> cfg.minChunkSize.toString,
        "semantic_threshold" -> cfg.semanticThreshold.toString,
        "semantic_buffer_size" -> cfg.semanticBufferSize.toString,
        "breakpoint_method" -> cfg.breakpointMethod,
        "breakpoint_amount" -> cfg.breakpointAmount.toString,
        "sentence_window_size" -> cfg.windowSize.toString,
        "prepend_header_path" -> cfg.prependHeaderPath.toString)
      case "embedding" => Map(
        "model" -> embedder.modelId,
        "dimensions" -> embedder.dimensions.toString)
      case "search" => Map(
        "mode" -> "hybrid", "top_k" -> "10", "min_score" -> "0.0",
        "alpha" -> "0.5", "fusion_method" -> "minmax", "auto_cut" -> "false",
        "rank_fn" -> "cover_density", "cross_model_search" -> "false")
      case "upload" => Map("parallel_workers" -> "4")
      case "llm" => Map.empty
      case "serving" => Map(
        "keyword_driver_cache_max_rows" -> "65536",
        "driver_cache_max_bytes" ->
          HybridSearch.DriverCacheMaxBytes.toString)
      case other => throw new IllegalArgumentException(
        s"unknown settings category: $other")
    }

  /** Stored (explicitly-set) entries for one scope — what PUT wrote. */
  def getSettings(category: String, containerId: Option[String] = None): Map[String, String] = {
    require(Settings.Categories.contains(category),
      s"unknown settings category: $category")
    loadSettings()
      .get((containerId.getOrElse(Settings.GlobalScope), category))
      .map(_._1).getOrElse(Map.empty)
  }

  /** Effective settings after the merge: constructor defaults, overlaid
    * with global stored entries, overlaid with the container's overrides
    * (when a containerId is given). This is what ingest and search read. */
  def effectiveSettings(category: String, containerId: Option[String] = None): Map[String, String] = {
    val stored = loadSettings()
    val global = stored.get((Settings.GlobalScope, category)).map(_._1).getOrElse(Map.empty)
    val scoped = containerId.flatMap(c => stored.get((c, category)).map(_._1)).getOrElse(Map.empty)
    constructorDefaults(category) ++ global ++ scoped
  }

  /** PUT settings for a category: whole-row replace of that scope's
    * explicitly-set entries (validated; the next ingest/search reads the
    * new values — no restart, ref SettingsEndpoints.cs PUT). */
  def putSettings(
      category: String,
      values: Map[String, String],
      containerId: Option[String] = None): Unit = synchronized {
    Settings.validate(category, values)
    // the serving index is store-wide: a container-scoped override would
    // validate, persist, and bind to NOTHING — reject at the boundary
    if (category == "serving")
      require(containerId.isEmpty, "serving settings are global-scope only")
    containerId.foreach(c => require(listContainers().exists(_._1 == c),
      s"no such container: $c"))
    val scope = containerId.getOrElse(Settings.GlobalScope)
    writeSettingsTable(loadSettings()
      .updated((scope, category), (values, System.currentTimeMillis())))
    // serving-cache knobs bind at index-build time: drop the cached index
    // so the next search rebuilds under the new caps (chunking/embedding
    // changes go through the reindex stamp instead — they change ROWS)
    if (category == "serving") invalidate()
  }

  /** Reset a category for a scope to the inherited layers (removes the
    * stored row; ref ISettingsStore.ResetAsync). */
  def resetSettings(category: String, containerId: Option[String] = None): Unit =
    synchronized {
      require(Settings.Categories.contains(category),
        s"unknown settings category: $category")
      writeSettingsTable(
        loadSettings() - ((containerId.getOrElse(Settings.GlobalScope), category)))
      if (category == "serving") invalidate()
    }

  /** Categories with stored entries for a scope (ref GetCategoriesAsync). */
  def listSettingsCategories(containerId: Option[String] = None): Seq[String] = {
    val scope = containerId.getOrElse(Settings.GlobalScope)
    loadSettings().keys.collect { case (s, c) if s == scope => c }.toSeq.sorted
  }

  /** The embedder a container's ingest/search should use under current
    * settings. Only the deterministic hash family is constructible from a
    * bare model name; a real provider model that differs from the injected
    * embedder fails fast here (providers need an endpoint + transport at
    * construction — inject via the constructor). */
  private val HashModel = "hash-(\\d+)-v1".r
  private def embedderFor(containerId: String): Embedder =
    effectiveSettings("embedding", Some(containerId)).get("model") match {
      case None => embedder
      case Some(m) if m == embedder.modelId => embedder
      case Some(HashModel(d)) => graft.embed.HashEmbedder(d.toInt)
      case Some(other) => throw new IllegalArgumentException(
        s"embedding model '$other' is not constructible from settings alone; " +
          "inject the provider via the KnowledgeStore constructor or use the " +
          "hash-<dims>-v1 family")
    }

  /** Effective (chunker, config) for a container under current settings. */
  private def chunkingFor(containerId: String): (graft.chunk.Chunker, ChunkingConfig) = {
    val eff = effectiveSettings("chunking", Some(containerId))
    val c = ChunkingConfig(
      maxChunkSize = eff("max_chunk_size").toInt,
      overlap = eff("overlap").toInt,
      minChunkSize = eff("min_chunk_size").toInt,
      semanticThreshold = eff("semantic_threshold").toDouble,
      semanticBufferSize = eff("semantic_buffer_size").toInt,
      breakpointMethod = eff("breakpoint_method"),
      breakpointAmount = eff("breakpoint_amount").toDouble,
      windowSize = eff("sentence_window_size").toInt,
      prependHeaderPath = eff("prepend_header_path").toBoolean)
    (graft.chunk.Chunkers.forName(eff("strategy"), embedderFor(containerId)), c)
  }

  /** The IndexedWith:* stamp a fresh ingest of this container would write —
    * the settings fingerprint Reindex.classify compares against (T6). */
  private def stampFor(containerId: String): Map[String, String] = {
    val ch = effectiveSettings("chunking", Some(containerId))
    Map(
      "IndexedWith:Chunker" -> ch("strategy"),
      "IndexedWith:MaxChunkSize" -> ch("max_chunk_size"),
      "IndexedWith:Overlap" -> ch("overlap"),
      "IndexedWith:Model" -> embedderFor(containerId).modelId)
  }

  // ---- documents --------------------------------------------------------

  /** upload_file (ref :250): decode (optionally base64), ingest, index.
    * Returns the document id. */
  def uploadFile(
      containerId: String,
      path: String,
      content: String,
      base64: Boolean = false): String =
    bulkUpload(containerId, Seq((path, content)), base64).head

  /** bulk_upload (ref :439, <=100 files/call). */
  def bulkUpload(
      containerId: String,
      files: Seq[(String, String)],
      base64: Boolean = false): Seq[String] =
    bulkUploadBatch(containerId, files, base64)._2

  /** bulk_upload with a BATCH resource id (ref BatchesEndpoints.cs —
    * bulk-operation job tracking): the returned id keys the progress
    * ring, so `GET /batches/{id}` answers phase/current/total until the
    * terminal "ready" event. */
  def bulkUploadBatch(
      containerId: String,
      files: Seq[(String, String)],
      base64: Boolean = false,
      /** The CONNECTOR SYNC path sets this: the write guard blocks USER
        * writes into connector-managed containers (ref
        * ContainerWriteGuard.cs — the guard's whole point), but the sync
        * job IS the connector and must land its pulled files (ref the
        * ingestion queue writing into read-only containers). Never
        * exposed over REST/MCP — only [[ConnectorSyncer]] passes true. */
      asConnector: Boolean = false,
      /** Pin specific paths to EXPLICIT document ids (normalized path ->
        * id) — the connector sync's rename branch passes the moved
        * document's existing id so the upsert replaces its old-path rows
        * and the document keeps its identity (ref
        * ConnectorWatcherService.cs:246-255 id reuse). Internal — never
        * exposed over REST/MCP. */
      docIdOverride: Map[String, String] = Map.empty): (String, Seq[String]) = {
    require(files.length <= MaxBulk, s"bulk_upload limited to $MaxBulk files")
    if (!asConnector) requireWritable(containerId)
    val docs = files.map { case (path, raw) =>
      val norm = graft.ingest.PathUtil.normalize(path)
      val fileName = norm.substring(norm.lastIndexOf('/') + 1)
      // upload-input hardening, uniform for REST, MCP, and connector
      // sync (all route through here; the first-crawl bulk path runs the
      // SAME gauntlet executor-side) — mirrors the reference's
      // ValidateInput rules and messages (ref ValidationConstants.cs:
      // 19-21, UploadService.cs:137-160): oversize/control-char
      // filenames, absurd path depth, and zero-byte bodies answer 400,
      // never land in the warehouse. Traversal is already neutralized by
      // PathUtil.normalize (dot segments collapse, clamped at root).
      graft.ingest.UploadValidation.check(norm, fileName)
        .foreach(msg => throw new IllegalArgumentException(msg))
      require(graft.ingest.Parsers.isSupported(fileName), s"unsupported type: $fileName")
      // binary formats (pdf/docx/pptx) arrive base64 and run the REAL
      // parsers here, so the indexed content is the extracted text (the
      // reference's upload path, IngestionPipeline.cs parse-by-extension);
      // text formats pass through
      val content =
        if (graft.ingest.Parsers.isBinary(fileName)) {
          require(base64, s"binary upload ($fileName) requires base64 content")
          val bytes = java.util.Base64.getDecoder.decode(raw)
          if (bytes.isEmpty) throw new IllegalArgumentException(
            graft.ingest.UploadValidation.EmptyMessage)
          graft.ingest.Parsers.parse(fileName, bytes)
            .fold(err => throw new IllegalArgumentException(err), _.content)
        } else {
          val c =
            if (base64) new String(java.util.Base64.getDecoder.decode(raw), "UTF-8")
            else raw
          if (c.isEmpty) throw new IllegalArgumentException(
            graft.ingest.UploadValidation.EmptyMessage)
          c
        }
      // PROVISIONAL id: the path-derived recipe (override pins win). The
      // ledger probe in appendDocs resolves the FINAL id — a path that
      // already owns a ledger row keeps that row's id, so identity
      // follows the document across renames, not the path string.
      IndexBuild.RawDoc(
        document_id = docIdOverride.getOrElse(norm,
          java.util.UUID.nameUUIDFromBytes(
            s"$containerId:$norm".getBytes("UTF-8")).toString),
        container_id = containerId, path = norm, file_name = fileName,
        content = content)
    }
    // last-wins dedupe of repeated paths WITHIN the batch: duplicates share
    // a final document_id, and the upsert probe only clears pre-existing
    // rows — two same-path entries in one call would otherwise both append
    // and double getDocument/containerStats until the next re-upload
    val lastWins = docs.reverse.distinctBy(_.path).reverse
    val (jobId, finalIds) = appendDocs(lastWins, docIdOverride.keySet)
    (jobId, docs.map(d => finalIds.getOrElse(d.path, d.document_id)))
  }

  /** First-crawl bulk ingest: the connector sync's EMPTY-container fast
    * path. The whole listing lands as ONE cluster-parallel
    * parse→chunk→embed→write commit instead of a MaxBulk-at-a-time
    * driver loop — a 10M-file initial sync is bound by
    * corpus/parallelism, not corpus/MaxBulk commits. Append-only BY
    * CONTRACT: requires the container to have no synced files, so the
    * upsert probe, generation carry, and replaced-row deletes all
    * vanish (every document is generation 1); an id collision is
    * impossible because ids derive from the (unique) normalized paths.
    * The incremental MaxBulk loop stays the path for every later delta.
    * `docs` carries PARSED content (the caller runs
    * Parsers.parse/parseText on the fetched bytes, executor-side). */
  def bulkUploadFirstCrawl(containerId: String,
      docs: Dataset[IndexBuild.RawDoc],
      asConnector: Boolean = false): String = {
    if (!asConnector) requireWritable(containerId)
    require(filePathsDf(containerId).isEmpty,
      "first-crawl bulk ingest requires a container with no synced files")
    // duplicate listing paths collapse (same recipe as bulkUploadBatch's
    // last-wins — without an order, one survivor per path)
    val ds = docs.dropDuplicates("path").persist()
    val job = new Job(newJobId(), ds.count())
    job.emit("received", 0L, "first_crawl")
    // corpus-sized: the staged write keeps the upstream's width
    ingest(ds, containerId, prevGen = Map.empty, writeParts = None, job)
    ds.unpersist()
    job.emit("ready", job.total)
    job.id
  }

  /** Returns (progress jobId — the batch resource's id, the FINAL
    * document id per normalized path after ledger-first resolution). */
  private def appendDocs(docs0: Seq[IndexBuild.RawDoc],
      pinnedPaths: Set[String]): (String, Map[String, String]) = {
    // an empty batch (bulk_upload with files: []) completes as a no-op
    // with a valid batch id, exactly as it did before settings resolution
    // started reading docs.head's container — and the id is POLLABLE:
    // the batch resource contract says every returned id resolves
    if (docs0.isEmpty) {
      val emptyJob = newJobId()
      progress.onProgress(graft.ingest.ProgressEvent(emptyJob, "received", 0L, 0L))
      progress.onProgress(graft.ingest.ProgressEvent(emptyJob, "ready", 0L, 0L))
      return (emptyJob, Map.empty)
    }
    // LEDGER-FIRST id resolution (ref ConnectorWatcherService.cs:246-255
    // `existingAtNew?.Id`): ONE partition-pruned probe by (path OR
    // candidate id), <=2*MaxBulk rows, answers three questions at once —
    //   1. does this path already own a ledger row? keep ITS id (identity
    //      follows the document across renames; a later re-upload at a
    //      renamed-onto path upserts instead of duplicating);
    //   2. is the path-derived id now owned by a DIFFERENT path (the
    //      previous occupant was renamed away)? mint a fresh id rather
    //      than silently replacing the moved document's rows;
    //   3. what generation does each surviving id carry (the upsert
    //      probe — previously a second lookup)?
    val probe: Seq[(String, String, Int)] = {
      val led = ledgerDf
      if (!led.columns.contains("document_id")) Seq.empty
      else {
        val paths = docs0.map(_.path)
        val candidates = docs0.map(_.document_id)
        led.filter(col("container_id") === docs0.head.container_id &&
            (col("path").isin(paths: _*) ||
              col("document_id").isin(candidates: _*)))
          .select(col("document_id"), col("path"),
            (if (led.columns.contains("generation")) col("generation")
             else lit(1)).cast("int").as("generation"))
          .as[(String, String, Int)].collect().toSeq
      }
    }
    val byPath = probe.map(r => r._2 -> ((r._1, r._3))).toMap
    val pathOf = probe.map(r => r._1 -> r._2).toMap
    val docs = docs0.map { d =>
      if (pinnedPaths.contains(d.path)) d // explicit id (rename) wins
      else byPath.get(d.path) match {
        case Some((id, _)) => d.copy(document_id = id)
        case None if pathOf.get(d.document_id).exists(_ != d.path) =>
          d.copy(document_id = java.util.UUID.randomUUID().toString)
        case None => d
      }
    }
    val finalIds = docs.map(d => d.path -> d.document_id).toMap
    // phase-grained progress (the reference's per-phase broadcast,
    // IngestionPipeline.cs:412-446): one jobId per upsert batch, events
    // at each phase boundary
    val job = new Job(newJobId(), docs.length.toLong)
    job.emit("received", 0L)
    // Upsert, not blind append: re-uploading an existing path must REPLACE
    // its chunks/vectors/ledger rows (ref IngestionPipeline.cs upsert +
    // generation checks), or every re-upload doubles getDocument output
    // and containerStats. The generations ride from the SAME probe that
    // resolved the ids above — a rename-pinned id found at its OLD path
    // is in prevGen too, so the upsert replaces the moved document's
    // old-path rows in the same commit that writes the new-path ones.
    val probeGen = probe.map(r => r._1 -> r._3).toMap
    val prevGen: Map[String, Int] =
      docs.flatMap(d => probeGen.get(d.document_id).map(d.document_id -> _))
        .toMap
    job.emit("upsert_probe", 0L, s"replaced=${prevGen.size}")
    // writeParts = 1: a <= MaxBulk-doc batch otherwise stages one tiny
    // parquet file PER DOCUMENT per table (the upstream runs one doc per
    // task) — N footer opens + renames + log lines per commit, and
    // N-file scans for every later reader. Chunk/embed stay wide; only
    // the staged write narrows (repartition, not coalesce).
    ingest(docs.toDS(), docs.head.container_id, prevGen, writeParts = Some(1), job)
    job.emit("ready", job.total)
    (job.id, finalIds)
  }

  private def newJobId(): String = java.util.UUID.randomUUID().toString.take(8)

  /** One upload job's phase events. The detail is BY-NAME and the Noop
    * listener short-circuits: the chunk/vector counts in the phase
    * details are real Spark jobs (cheap on persisted frames, but jobs),
    * and an unobserved pipeline must not pay them. */
  private final class Job(val id: String, val total: Long) {
    def emit(phase: String, current: Long, detail: => String = ""): Unit =
      if (progress ne graft.ingest.ProgressListener.Noop)
        progress.onProgress(graft.ingest.ProgressEvent(id, phase, current, total, detail))
  }

  /** The one ingest body of uploads, reindexes and first crawls:
    * chunk → embed → ledger → ONE commit of the three tables' fresh
    * files together with the copy-on-write removal of the replaced
    * documents' (`prevGen`) old rows — a reader sees the whole upsert or
    * none of it, and the change feed reads as Delta CDF (delete
    * pre-images + insert post-images at one version) — then the
    * embed-cache write-back. `writeParts` narrows the staged write (and
    * the cache increment) of bounded batches; None keeps a corpus-sized
    * write wide. */
  private def ingest(ds: Dataset[IndexBuild.RawDoc], containerId: String,
      prevGen: Map[String, Int], writeParts: Option[Int], job: Job): Unit = {
    // chunker/config/embedder resolve through the settings layers at JOB
    // BUILD time (constructor defaults <- global PUTs <- this container's
    // overrides) — a settings change applies to the next upload with no
    // restart, and the IndexedWith stamp records what was actually used
    // so Reindex.classify can flag docs indexed under older settings
    val (chunker, effCfg) = chunkingFor(containerId)
    val newChunks = IndexBuild.chunkDocs(ds, chunker, effCfg).persist()
    val vectors = IndexBuild.embedChunks(newChunks,
      Option(tableOrEmpty(s"$warehouse/embed_cache", null)),
      embedderFor(containerId))
      .persist() // reused by the cache write-back below without re-embedding
    val generation =
      if (prevGen.isEmpty) lit(1)
      else coalesce(element_at(typedLit(prevGen), col("document_id")) + 1, lit(1))
    val ledger = IndexBuild.ledgerRows(newChunks, ds, stampFor(containerId), generation)
    val gen = TxLog.snapshot(spark, warehouse).maxGeneration("chunks") + 1L
    val frames = Map("chunks" -> newChunks.drop("precomputed").toDF(),
      "vectors" -> vectors.toDF(), "ledger" -> ledger)
    val adds = DataTables.flatMap { case (t, pb) =>
      TxLog.stageWrite(frames(t), warehouse, t, pb, gen, writeParts = writeParts)
    }
    commitReplacing(adds, Some(prevGen.keys.toSeq).filter(_.nonEmpty)
      .map(ids => col("document_id").isin(ids: _*)))
    job.emit("chunked", job.total, s"chunks=${newChunks.count()}")
    job.emit("embedded", job.total, s"vectors=${vectors.count()}")
    // write-back: fresh embeddings join the shared content-hash cache so
    // re-uploading identical content skips the embedder (each ingest
    // appends its increment; the cache reader dropDuplicates on
    // content_hash). The cache is an optimization table: plain parquet,
    // outside the log. A bounded batch's increment coalesces: the
    // dropDuplicates shuffle otherwise fans it into shuffle-partition-many
    // tiny files per upload.
    val cache = vectors.select("content_hash", "model_id", "dimensions", "embedding")
      .dropDuplicates("content_hash")
    writeParts.fold(cache)(n => cache.coalesce(n))
      .write.mode(SaveMode.Append).parquet(s"$warehouse/embed_cache")
    vectors.unpersist()
    newChunks.unpersist()
    invalidate()
  }

  /** The one commit step of every data-table write: commit, then drop
    * Spark's cached listing of the table dirs so the next read replans
    * over the new snapshot. */
  private def commit(adds: Seq[TxLog.Add], removes: Seq[TxLog.Remove],
      deletes: Map[String, String] = Map.empty,
      readVersion: Option[Long] = None): Unit = {
    TxLog.commit(spark, warehouse, adds, removes, deletes = deletes,
      readVersion = readVersion)
    spark.catalog.refreshByPath(s"$warehouse/chunks")
    org.apache.spark.sql.graftbridge.Bridge.invalidateFileStatusCache()
  }

  /** Commit `adds` together with a copy-on-write delete of the rows
    * matching `replaced` in all three tables (log-level partition + stats
    * pruning picks the owner files, which are rewritten to their
    * survivors). The staged deletes' snapshot version rides into the
    * commit so the snapshot-isolation check runs: a concurrent rewrite
    * of the same owner files surfaces as TxConflictException instead of
    * silently resurrecting the deleted rows. */
  private def commitReplacing(adds: Seq[TxLog.Add], replaced: Option[Column]): Unit = {
    val staged = replaced.toSeq.flatMap(pred => DataTables.flatMap { case (t, pb) =>
      TxLog.stageDelete(spark, warehouse, t, pred, pb).map(t -> _)
    })
    if (adds.nonEmpty || staged.nonEmpty)
      commit(staged.flatMap(_._2.adds) ++ adds, staged.flatMap(_._2.removes),
        deletes = staged.map { case (t, sd) => t -> sd.predSql }.toMap,
        readVersion = staged.map(_._2.readVersion).minOption.filter(_ >= 0))
  }

  /** delete_file (ref :321): drop one document's rows. */
  def deleteFile(containerId: String, path: String): Unit =
    bulkDelete(containerId, Seq(path))

  /** bulk_delete (ref :375, <=100 ids — EXCEPT on keys): the three
    * tables' row-level deletes land in ONE copy-on-write commit
    * (log-level partition + stats pruning picks the owner files; the
    * pre-images surface in the change feed; vacuum reclaims the replaced
    * files). */
  def bulkDelete(containerId: String, paths: Seq[String]): Unit = {
    bulkDeleteBatch(containerId, paths); ()
  }

  /** bulk_delete with a batch resource id (ref BatchesEndpoints.cs), like
    * [[bulkUploadBatch]]: phase events land in the progress ring under
    * the returned id. */
  def bulkDeleteBatch(containerId: String, paths: Seq[String],
      /** See [[bulkUploadBatch]]'s asConnector — the sync path removes
        * files the REMOTE deleted; the guard is for user writes. */
      asConnector: Boolean = false): String = {
    require(paths.length <= MaxBulk, s"bulk_delete limited to $MaxBulk")
    if (!asConnector) requireWritable(containerId)
    val jobId = newJobId()
    progress.onProgress(graft.ingest.ProgressEvent(
      jobId, "received", 0L, paths.length.toLong, "bulk_delete"))
    // ledger-first id resolution (same contract as the upload probe): a
    // renamed document's id no longer matches the path-derived recipe, so
    // deletion resolves ids from the ledger by path — the derived id is
    // only the fallback for paths the ledger never saw (legacy layouts)
    val norms = paths.map(graft.ingest.PathUtil.normalize)
    val ledgerIds: Map[String, String] = {
      val led = ledgerDf
      if (!led.columns.contains("document_id")) Map.empty
      else led.filter(col("container_id") === containerId &&
          col("path").isin(norms: _*))
        .select("path", "document_id").as[(String, String)].collect().toMap
    }
    val ids = norms.map(n => ledgerIds.getOrElse(n,
      java.util.UUID.nameUUIDFromBytes(
        s"$containerId:$n".getBytes("UTF-8")).toString)).distinct
    commitReplacing(Nil, Some(col("container_id") === containerId &&
      col("document_id").isin(ids: _*)))
    invalidate()
    progress.onProgress(graft.ingest.ProgressEvent(
      jobId, "ready", paths.length.toLong, paths.length.toLong, "bulk_delete"))
    jobId
  }

  /** The ledger's document id at an EXACT path — a partition-pruned
    * point lookup (the rename path resolves the moved document's
    * identity through this before pinning it at the new path). */
  def documentIdAt(containerId: String, path: String): Option[String] = {
    val norm = graft.ingest.PathUtil.normalize(path)
    val led = ledgerDf
    if (!led.columns.contains("document_id")) None
    else led.filter(col("container_id") === containerId && col("path") === norm)
      .select("document_id").as[String].collect().headOption
  }

  /** Batched [[documentIdAt]] that also returns each document's ledger
    * content hash (sha-256 of the PARSED content — the same recipe the
    * upsert ledger writes): the connector sync's rename branch pins a
    * moved document's id onto a new path only after confirming the new
    * path's content actually IS the old document (normalized path ->
    * (document_id, content_hash)). */
  def documentIdHashAt(containerId: String, paths: Seq[String])
      : Map[String, (String, String)] = {
    if (paths.isEmpty) return Map.empty
    val norms = paths.map(graft.ingest.PathUtil.normalize)
    val led = ledgerDf
    if (!led.columns.contains("document_id") ||
        !led.columns.contains("content_hash")) Map.empty
    else led.filter(col("container_id") === containerId &&
        col("path").isin(norms: _*))
      .select("path", "document_id", "content_hash")
      .as[(String, String, String)].collect()
      .map { case (p, id, h) => p -> ((id, h)) }.toMap
  }

  /** The stored path of one document id — a POINT lookup (ledger filter
    * with document_id pushdown; post-compaction the range stats + Bloom
    * sketches prune to the owning files), the reference's
    * documentStore.GetAsync. The serving layers resolve file arguments
    * through this; a full-listing scan to find one id would be a
    * corpus-proportional driver fold. */
  def documentPathOf(containerId: String, docId: String): Option[String] = {
    val led = ledgerDf
    if (!led.columns.contains("document_id")) None
    else led.filter(col("container_id") === containerId &&
        col("document_id") === docId)
      .select("path").limit(1).as[String].collect().headOption
  }

  /** One document's full ledger row (ref DocumentsEndpoints.cs:221
    * GetFile — "file details including indexing status"): (path,
    * file_name, chunk_count, size_bytes, status, generation,
    * content_hash, indexed_with). Point lookup by id, pruned like
    * [[documentPathOf]]. */
  def fileDetails(containerId: String, docId: String): Option[(String,
      String, Int, Long, String, Long, String, Map[String, String])] = {
    val led = ledgerDf
    if (!led.columns.contains("document_id")) return None
    led.filter(col("container_id") === containerId &&
        col("document_id") === docId)
      .select($"path", $"file_name", $"chunk_count", $"size_bytes",
        $"status", $"generation".cast("long"), $"content_hash",
        $"indexed_with")
      .as[(String, String, Int, Long, String, Long, String, Map[String, String])]
      .collect().headOption
  }

  /** Per-document reindex check (ref DocumentsEndpoints.cs:415 GET
    * /{fileId}/reindex-check): (reason, needs_reindex). This warehouse
    * retains no raw source bytes, so content is by definition unchanged —
    * the reasons are Unchanged / SettingsChanged / NeverIndexed / Forced
    * (the reference's ContentChanged arm needs its object store).
    * The stamps themselves ride [[fileDetails]] (stored) and
    * [[currentStamp]] (what a fresh ingest would write). */
  def reindexCheckDocument(containerId: String, docId: String)
      : Option[(String, Boolean)] =
    classifyDf(containerId, force = false)
      .filter(col("document_id") === docId)
      .select("action", "needs_reindex").as[(String, Boolean)]
      .collect().headOption

  /** The IndexedWith:* stamp a fresh ingest would write under CURRENT
    * effective settings — the comparison side of the per-document
    * reindex check. */
  def currentStamp(containerId: String): Map[String, String] =
    stampFor(containerId)

  /** The container's synced paths as a DATAFRAME (one `path` column) —
    * the distributed twin of [[listFiles]] for corpus-sized
    * reconciliations: the connector sync anti-joins this against the
    * remote listing so deletion detection never materializes a
    * full-container listing on the driver (only the deleted DELTA is
    * ever collected). Empty frame when the warehouse has no ledger yet. */
  def filePathsDf(containerId: String): DataFrame = {
    val led = ledgerDf
    if (!led.columns.contains("path"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType))))
    led.filter(col("container_id") === containerId).select("path")
  }

  /** list_files (ref :174) with pagination (K5). */
  def listFiles(
      containerId: String,
      pathPrefix: Option[String] = None,
      offset: Int = 0,
      limit: Int = 50): Seq[(String, String, Int)] = {
    // a fully-emptied warehouse has no ledger table at all (the last
    // delete removes the only partition): that is an EMPTY listing, not
    // an analysis error
    val led = ledgerDf
    if (!led.columns.contains("path")) return Seq.empty
    var df = led.filter(col("container_id") === containerId)
    pathPrefix.foreach(p => df = df.filter(col("path").startsWith(p)))
    df.select($"document_id", $"path", $"chunk_count")
      .orderBy("path")
      .offset(offset).limit(limit)
      .as[(String, String, Int)].collect().toSeq
  }

  /** Model listing (ref SearchEndpoints.cs:125, A2 VectorModelDiscovery):
    * distinct embedding models in a container with dimensions and vector
    * counts, largest first — partition-pruned to the container. */
  def listModels(containerId: String): Seq[(String, Int, Long)] = {
    val v = vectorsDf
    if (!v.columns.contains("model_id")) return Seq.empty
    v.filter(col("container_id") === containerId)
      .groupBy(col("model_id"), size(col("embedding")).as("dimensions"))
      .agg(count(lit(1)).as("vectors"))
      .orderBy(desc("vectors"), col("model_id"))
      .as[(String, Int, Long)].collect().toSeq
  }

  // ---- folders (ref FolderEntity: container_id + path; the table exists
  // solely so EMPTY folders survive — non-empty ones are implied by
  // document paths) -------------------------------------------------------

  private val foldersPath = s"$warehouse/folders"

  private def foldersDf: DataFrame = tableOrEmpty(foldersPath,
    Seq.empty[(String, String)].toDF("container_id", "path"))

  /** folder create: records the path so it lists even while empty. */
  def createFolder(containerId: String, path: String): Unit = {
    requireWritable(containerId)
    val norm = graft.ingest.PathUtil.normalize(path).stripSuffix("/")
    require(norm.nonEmpty, "folder path required")
    if (!listFolders(containerId).contains(norm))
      Seq((containerId, norm)).toDF("container_id", "path")
        .write.mode(SaveMode.Append).parquet(foldersPath)
  }

  /** folder list: explicit (possibly empty) folders ∪ parent dirs implied
    * by stored document paths, sorted. */
  /** Driver bound: collects the container's distinct FOLDER set (paths
    * only, ~100 B each — the same registry-sized driver term as
    * reindexStale's stale list; 10M folders ≈ 1 GB against 128 GB
    * heaps). The distinct itself runs distributed; only the result
    * lands on the driver. */
  def listFolders(containerId: String, pathPrefix: Option[String] = None): Seq[String] = {
    val explicit = foldersDf.filter(col("container_id") === containerId)
      .select("path")
    val implied = ledgerDf match {
      case l if l.columns.contains("path") =>
        l.filter(col("container_id") === containerId)
          .select(expr("substring_index(path, '/', size(split(path, '/')) - 1)").as("path"))
          .filter(col("path") =!= "")
      case _ => explicit.limit(0)
    }
    val all = explicit.unionByName(implied).distinct()
    val scoped = pathPrefix.map(p => all.filter(col("path").startsWith(p))).getOrElse(all)
    scoped.orderBy("path").as[String].collect().toSeq
  }

  /** folder delete: removes the explicit entry and every document under the
    * subtree (the reference cascades through the path prefix). */
  /** Driver bound: materializes the folder's document PATH set (~100 B
    * each — registry-sized, same class as reindexStale's stale list)
    * before the chunked cascade, deliberately: bulkDelete rewrites the
    * very ledger a lazy iterator would still be streaming. */
  def deleteFolder(containerId: String, path: String): Unit = {
    requireWritable(containerId)
    val norm = graft.ingest.PathUtil.normalize(path).stripSuffix("/")
    val docs = ledgerDf match {
      case l if l.columns.contains("path") =>
        l.filter(col("container_id") === containerId &&
          col("path").startsWith(norm + "/"))
          .select("path").as[String].collect().toSeq
      case _ => Seq.empty
    }
    // the MaxBulk bound is an API-facing request limit (ref
    // ValidationConstants); an internal cascade over a large folder chunks
    // under it rather than failing mid-delete
    docs.grouped(MaxBulk).foreach(group => bulkDelete(containerId, group))
    rewriteRegistry(foldersPath, foldersDf
      .filter(!(col("container_id") === containerId && col("path") === norm)))
  }

  /** get_document (ref :546): reconstruct extracted text from chunks. */
  def getDocument(containerId: String, path: String): Option[String] = {
    val norm = graft.ingest.PathUtil.normalize(path)
    val chunks = chunksDf
    if (!chunks.columns.contains("path")) return None // emptied warehouse
    val rows = chunks
      .filter(col("container_id") === containerId && col("path") === norm)
      .select("chunk_index", "start_offset", "end_offset", "content")
      .as[(Int, Int, Int, String)].collect()
    // offset-sliced reassembly (Reindex.reconstruct): overlapping chunkers'
    // shared regions appear ONCE, not once per chunk boundary
    if (rows.isEmpty) None else Some(graft.ingest.Reindex.reconstruct(rows.toSeq))
  }

  /** container_stats (ref :670, A1): counts by status, chunk/byte sums. */
  def containerStats(containerId: String): Map[String, Long] = {
    val all = ledgerDf
    if (!all.columns.contains("container_id")) // emptied warehouse
      return Map("documents" -> 0L, "chunks" -> 0L, "bytes" -> 0L)
    val led = all.filter(col("container_id") === containerId)
    if (led.isEmpty) return Map("documents" -> 0L, "chunks" -> 0L, "bytes" -> 0L)
    val row = led.agg(
      count(lit(1)).as("documents"),
      sum("chunk_count").as("chunks"),
      sum("size_bytes").as("bytes"),
      count(when(col("status") === "Ready", 1)).as("ready")).head()
    Map("documents" -> row.getLong(0), "chunks" -> row.getLong(1),
      "bytes" -> row.getLong(2), "ready" -> row.getLong(3))
  }

  // ---- settings-driven reindex (ref SettingsEndpoints.cs POST /reindex,
  // ReindexService.cs; T6) --------------------------------------------------

  /** Classify the container's ledger against the CURRENT effective
    * settings stamp (Reindex.classify with the warehouse as its own
    * listing — content is by definition unchanged, so the only actions
    * are Unchanged / SettingsChanged / Forced). */
  private def classifyDf(containerId: String, force: Boolean): DataFrame = {
    val led = ledgerDf
    if (!led.columns.contains("indexed_with"))
      return Seq.empty[(String, String, Boolean)]
        .toDF("document_id", "action", "needs_reindex")
    val scoped = led.filter(col("container_id") === containerId)
    graft.ingest.Reindex.classify(
      scoped,
      scoped.select(col("document_id"), col("content_hash").as("live_hash")),
      stampFor(containerId), force)
  }

  /** Per-action document counts — the check an operator runs after a
    * settings PUT to see how much of the corpus went stale. */
  def reindexCheck(containerId: String, force: Boolean = false): Map[String, Long] =
    classifyDf(containerId, force).groupBy("action").count()
      .as[(String, Long)].collect().toMap

  /** The settings-change reindex trigger: re-ingests every stale document
    * under the current effective settings (new chunker/config/embedder,
    * fresh IndexedWith stamp, generation bump — the same upsert path as an
    * upload, so readers flip atomically per batch).
    *
    * Document text is reconstructed from the stored chunks by OFFSET
    * SLICING ([[graft.ingest.Reindex.reconstruct]] — ONE Spark job per
    * MaxBulk batch, not a per-document getDocument loop): each chunk
    * contributes only the span past what prior chunks already covered, so
    * the default chunkers' trailing-token overlap (ChunkingConfig
    * overlap=50) is NOT duplicated at each boundary and repeated
    * reindexes are idempotent. Exact for chunkers whose contents are
    * document slices; chunk-boundary newline joins across trimmed
    * whitespace gaps are the documented approximation (the reference
    * re-reads source bytes from its object store — this warehouse
    * intentionally does not retain raw uploads).
    * Returns the number of documents reindexed. */
  def reindexStale(containerId: String, force: Boolean = false,
      /** Called after each re-ingested batch with (done, total) — the
        * async wrapper's heartbeat hook (its batch id must stay live in
        * the bounded progress ring while nested upload events churn). */
      onBatch: (Long, Long) => Unit = (_, _) => ()): Int = {
    requireWritable(containerId)
    // the stale (id, path) list MATERIALIZES on the driver before the
    // first re-ingest batch runs — deliberately: appendDocs rewrites the
    // very ledger/chunk files a lazy iterator would still be streaming.
    // Driver bound: ~100 B/doc, so a full-corpus force-reindex of 10M
    // documents holds ~1 GB — the same registry-sized driver term as
    // merge owner discovery (SCALE.md), with the same 128 GB headroom.
    val stale = classifyDf(containerId, force)
      .filter(col("needs_reindex"))
      .join(ledgerDf.filter(col("container_id") === containerId)
        .select("document_id", "path"), Seq("document_id"))
      .select("document_id", "path").as[(String, String)].collect()
    var done = 0L
    stale.grouped(MaxBulk).foreach { group =>
      val ids = group.map(_._1)
      val texts = chunksDf
        .filter(col("container_id") === containerId &&
          col("document_id").isin(ids: _*))
        .groupBy("document_id")
        .agg(collect_list(struct(col("chunk_index"), col("start_offset"),
          col("end_offset"), col("content"))).as("chunks"))
        .as[(String, Seq[(Int, Int, Int, String)])].collect()
        .map { case (id, cs) => id -> graft.ingest.Reindex.reconstruct(cs) }
        .toMap
      val raws = group.flatMap { case (id, path) =>
        texts.get(id).map { text =>
          IndexBuild.RawDoc(
            document_id = id, container_id = containerId, path = path,
            file_name = path.substring(path.lastIndexOf('/') + 1),
            content = text)
        }
      }
      // ids here CAME from the ledger — pin them (no remap needed)
      if (raws.nonEmpty) appendDocs(raws.toSeq, raws.map(_.path).toSet)
      done += group.length
      onBatch(done, stale.length.toLong)
    }
    stale.length
  }

  /** The reference's reindex trigger is ASYNC (SettingsEndpoints.cs
    * POST /reindex runs in a background Task with ReindexStateService
    * status): this twin runs [[reindexStale]] on a single daemon thread
    * (serialized — two overlapping reindexes of one warehouse would
    * race the upsert path) and reports through the progress ring under
    * the returned batch id: `received` on submit, `ready` with the
    * reindexed count, `failed` with the error message. Poll
    * `GET /batches/{id}` or follow `/progress/stream?job_id=`. */
  def reindexStaleAsync(containerId: String, force: Boolean = false): String = {
    requireWritable(containerId)
    val jobId = newJobId()
    progress.onProgress(graft.ingest.ProgressEvent(
      jobId, "received", 0L, 0L, "reindex"))
    reindexExec.submit(new Runnable {
      override def run(): Unit =
        try {
          // per-batch heartbeat keeps this id live in the bounded ring —
          // a long reindex's nested upload events would otherwise evict
          // the lone "received" event and 404 the batch mid-run
          val n = reindexStale(containerId, force,
            onBatch = (done, total) => progress.onProgress(
              graft.ingest.ProgressEvent(jobId, "processing", done, total, "reindex")))
          progress.onProgress(graft.ingest.ProgressEvent(
            jobId, "ready", n.toLong, n.toLong, "reindex"))
        } catch {
          case e: Throwable => progress.onProgress(graft.ingest.ProgressEvent(
            jobId, "failed", 0L, 0L, String.valueOf(e.getMessage)))
        }
    })
    jobId
  }

  private lazy val reindexExec = {
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-reindex"); t.setDaemon(true); t
    })
    ex
  }

  /** Status of the last GLOBAL settings-reindex sweep (ref
    * ReindexStateService: Status/StartedAt/CompletedAt/LastError; the
    * reference reports its ingestion-queue depth as a progress proxy —
    * here queueDepth is the count of containers the running sweep has
    * not finished yet). */
  final case class GlobalReindexState(
      status: String, queueDepth: Int, startedMs: Long,
      completedMs: Long, lastError: String)

  private val globalReindex =
    new java.util.concurrent.atomic.AtomicReference(
      GlobalReindexState("idle", 0, 0L, 0L, ""))

  def globalReindexStatus: GlobalReindexState = globalReindex.get()

  /** The reference's GLOBAL reindex trigger (SettingsEndpoints.cs:261-309
    * POST /settings/reindex): flips cross-model search ON if it is off
    * (old- and new-model vectors coexist searchably mid-sweep), then
    * re-ingests every stale document in every writable container — or
    * just `containerId` — in the background. Runs on the SAME serialized
    * executor as the per-container trigger, so a global sweep and a
    * per-container reindex can never race the upsert path. Fire and
    * forget; poll [[globalReindexStatus]] (GET /settings/reindex/status). */
  def reindexAllAsync(containerId: Option[String] = None,
      force: Boolean = false): Unit = {
    containerId.foreach { c => // fail fast on the caller's thread
      require(listContainers().exists(_._1 == c), s"no such container: $c")
      requireWritable(c)
    }
    // ref auto-enables cross-model search before re-embedding; merge into
    // the STORED global row (putSettings is whole-row replace per scope)
    if (!effectiveSettings("search")("cross_model_search").toBoolean)
      putSettings("search",
        getSettings("search") + ("cross_model_search" -> "true"))
    val targets = containerId.map(Seq(_)).getOrElse(
      listContainersDetailed().filter(_._4).map(_._1))
    val startMs = System.currentTimeMillis()
    globalReindex.set(
      GlobalReindexState("running", targets.size, startMs, 0L, ""))
    reindexExec.submit(new Runnable {
      override def run(): Unit =
        try {
          targets.zipWithIndex.foreach { case (cid, i) =>
            reindexStale(cid, force)
            globalReindex.set(GlobalReindexState(
              "running", targets.size - i - 1, startMs, 0L, ""))
          }
          globalReindex.set(GlobalReindexState(
            "completed", 0, startMs, System.currentTimeMillis(), ""))
        } catch {
          case e: Throwable => globalReindex.set(GlobalReindexState(
            "failed", 0, startMs, System.currentTimeMillis(),
            String.valueOf(e.getMessage)))
        }
    })
  }

  // ---- maintenance ------------------------------------------------------

  /** The warehouse's NIGHTLY JOB in one call (the reference runs these as
    * periodic background services — compaction-style cleanup; ref
    * IngestionPipeline periodic rescan). Per table: compact when
    * fragmented past `maxFilesPerTable` OR when deletion-vector masks are
    * pending (compaction materializes them; the store's own
    * deletes are copy-on-write, but other log writers such as
    * `TxLogSink.mergeDV` or `TxLog.deleteWhereDV` leave masks); then
    * CHECKPOINT the log (snapshot fold stays O(recent)), vacuum data
    * files past `vacuumRetentionMs`, and optionally expire the
    * checkpoint-covered log history. Returns an action report for the
    * operator's log line. The serving cache (the store's only keyword
    * index) invalidates at the end — the next query rebuilds it over the
    * compacted layout. */
  def maintain(
      maxFilesPerTable: Int = 64,
      vacuumRetentionMs: Long = 7L * 24 * 3600 * 1000,
      expireLogHistory: Boolean = false): Map[String, String] = {
    val report = scala.collection.mutable.LinkedHashMap[String, String]()
    DataTables.foreach { case (t, pb) =>
      val snap = TxLog.snapshot(spark, warehouse)
      if (snap.files(t).nonEmpty &&
        (snap.files(t).size > maxFilesPerTable || snap.dvsOf(t).nonEmpty)) {
        val v = TxLog.compact(spark, warehouse, t, pb,
          view = _.repartition(pb.map(col): _*))
        report += s"compact_$t" -> s"v$v"
      }
    }
    // the INCREMENTAL writer (previous checkpoint + delta as a Spark
    // job): driver memory ∝ commits-since-last-checkpoint, never live
    // files — the classic driver-fold writer OOMs an 8 GB driver near
    // 10M live files, a count a nightly-maintained 100 TB warehouse
    // reaches (see ManifestScale / BENCH_NOTES)
    report += "checkpoint" -> s"v${TxLog.checkpointViaManifest(spark, warehouse)}"
    report += "vacuum" -> s"${TxLog.vacuum(spark, warehouse, vacuumRetentionMs)} files"
    if (expireLogHistory)
      report += "expire_log" -> s"${TxLog.expireLog(spark, warehouse)} commits"
    invalidate()
    report.toMap
  }

  // ---- search -----------------------------------------------------------

  @volatile private var cachedIndex: Option[HybridSearch.Index] = None

  private def invalidate(): Unit = synchronized {
    cachedIndex.foreach(_.serving.foreach(_.unpersist()))
    cachedIndex = None
  }

  /** The cached serving index (interactive-latency path). Coalesced to few
    * partitions: per-query jobs on a cached index pay per-task scheduling
    * overhead, not data cost, so fewer fat partitions beat many thin ones
    * (re-examine if a single container's index outgrows executor memory).
    */
  private def index: HybridSearch.Index = synchronized {
    cachedIndex.getOrElse {
      // one cached row per chunk serves both legs (HybridSearch.servingIndex).
      // The driver-copy caps come from the runtime-mutable settings
      // registry (GLOBAL scope — the index is store-wide); a PUT
      // invalidates the cache so the NEXT build honors the new caps.
      val sv = effectiveSettings("serving")
      val ix = HybridSearch.servingIndex(chunksDf, vectorsDf, partitions = 8,
        keywordDriverCacheMaxRows =
          sv("keyword_driver_cache_max_rows").toInt,
        driverCacheMaxBytes = sv("driver_cache_max_bytes").toLong)
      cachedIndex = Some(ix)
      ix
    }
  }

  /** The live serving index (spec surface: lets tests pin which layout —
    * driver copy vs RDD leg — actually serves under current settings). */
  private[graft] def currentIndex: HybridSearch.Index = index

  /** search_knowledge (ref :93): bounds-checked hybrid search, optional
    * rerank. */
  def search(req: SearchRequest, reranker: Option[CrossEncoderProvider] = None): Seq[SearchHit] = {
    require(req.topK >= 1 && req.topK <= MaxTopK, s"topK must be in [1,$MaxTopK]")
    require(req.query.length <= MaxQueryChars, s"query over $MaxQueryChars chars")
    // the query embeds with the container's EFFECTIVE embedding model so a
    // settings-driven model change is queryable immediately for re-ingested
    // docs (the vector leg already model-filters — P4 — so pre-reindex
    // vectors under the old model simply stop matching until reindexed, or
    // stay reachable via the keyword leg with crossModelSearch)
    val hits = HybridSearch.search(index, req, embedderFor(req.containerId))
    reranker match {
      case Some(r) => Reranker.rerank(r, req.query, hits).take(req.topK)
      case None => hits
    }
  }
}
