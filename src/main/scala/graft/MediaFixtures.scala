package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized sidecar cache for the synthetic media fixtures.
  *
  * The media-tier queries run over synthetic payload tables (real PNG /
  * WAV / GVID bytes generated closed-form from `documents.doc_id`).
  * Generating those payloads means ENCODING the whole corpus — and a
  * benchmark that synthesizes its input inside the timed body measures
  * the fixture encoder, not the engine (at sf0.1 every video query was
  * spending most of its wall time encoding ~30k PNG frames before the
  * operator under test ran). A real deployment reads stored payloads.
  *
  * So each fixture table is written to parquet ONCE per (testdata
  * generation, fixture format version, kind, scale factor) under the
  * JVM temp dir and every later use — all bench passes, verify,
  * repeated local runs — is a plain parquet
  * scan, which is exactly the I/O shape the 100 TB design point has.
  * The cache key fingerprints the `documents.parquet` file (path,
  * mtime, size) AND [[FORMAT_VERSION]], so regenerated testdata or an
  * edited generator invalidates automatically; the generators are
  * deterministic in doc_id, so a cached table is row-identical to
  * fresh generation and every DuckDB oracle stays valid. Writes go to
  * a staging dir carrying this cache's OWN completion marker, then
  * rename: a killed run can't leave a half-written dir that later runs
  * mistake for a complete fixture, and completeness never depends on
  * Spark's `_SUCCESS` setting (`mapreduce.fileoutputcommitter
  * .marksuccessfuljobs=false` would otherwise turn the cache into a
  * hard error). A target dir WITHOUT the marker is stale state and is
  * removed, then regenerated.
  */
object MediaFixtures {

  /** Bump whenever ANY synthetic generator's output changes (pixel
    * pattern, cluster count, silence cadence, codec layout, …): the
    * key change makes every previously cached parquet invisible, so a
    * stale fixture can never be silently served to a bench or verify
    * run against the new generator semantics.
    */
  private val FORMAT_VERSION = 3

  /** This cache's own completion marker — written into the staging dir
    * BEFORE the atomic rename, so a renamed target is complete by
    * construction. Underscore prefix: parquet readers ignore it.
    */
  private val MARKER = "_GRAFT_FIXTURE_OK"

  /** fixture kind -> generator over a documents frame (all
    * deterministic in doc_id, so the same kind over a replicated
    * documents table is itself deterministic)
    */
  private val kinds: Map[String, (SparkSession, DataFrame) => DataFrame] = Map(
    "png" -> ((s, d) => ext.Multimodal.syntheticPngTable(s, d)),
    "jpeg" -> ((s, d) => ext.Multimodal.syntheticJpegTable(s, d)),
    "png_clusters" -> ((s, d) => ext.Multimodal.syntheticPngClusters(s, d)),
    "png_skewed" -> ((s, d) => ext.Multimodal.syntheticPngSkewed(s, d)),
    "wav" -> ((s, d) => ext.Multimodal.syntheticWavTable(s, d)),
    "wav_clusters" -> ((s, d) => ext.Multimodal.syntheticWavClusters(s, d)),
    "wav_skewed" -> ((s, d) => ext.Multimodal.syntheticWavSkewed(s, d)),
    "video" -> ((s, d) => ext.Multimodal.syntheticVideoTable(s, d)),
    "video_scenes" -> ((s, d) => ext.Multimodal.syntheticVideoScenes(s, d)),
    "video_junk" -> ((s, d) => ext.Multimodal.syntheticVideoJunk(s, d)),
    "video_clusters" -> ((s, d) => ext.Multimodal.syntheticVideoClusters(s, d)),
    // coprime cluster modulus: video groups cut ACROSS the mod-50
    // image/url groups, so a video near-dup stage still has planted
    // structure after image dedup collapses each mod-50 group
    "video_clusters37" -> ((s, d) =>
      ext.Multimodal.syntheticVideoClusters(s, d, nClusters = 37)))

  /** media-fixture kinds each driver query reads — so a bench run can
    * pre-materialize (untimed) exactly what its query set needs
    */
  val queryKinds: Map[String, Seq[String]] = Map(
    "q_png_decode" -> Seq("png"),
    "q_jpeg_decode" -> Seq("jpeg"),
    "q_jpeg_bounds" -> Seq("jpeg"),
    "q_wav_decode" -> Seq("wav"),
    "q_audio_ehash" -> Seq("wav_clusters"),
    "q_audio_neardup" -> Seq("wav_clusters"),
    "q_audio_clusters" -> Seq("wav_clusters"),
    "q_audio_neardup_inc" -> Seq("wav_clusters"),
    "q_audio_quality" -> Seq("wav_clusters"),
    "q_image_dhash" -> Seq("png_clusters"),
    "q_image_neardup" -> Seq("png_clusters"),
    "q_image_clusters" -> Seq("png_clusters"),
    "q_image_neardup_inc" -> Seq("png_clusters"),
    "q_image_quality" -> Seq("png_skewed"),
    "q_image_stats_dhash" -> Seq("png_skewed"),
    "q_video_decode" -> Seq("video"),
    "q_video_frames" -> Seq("video"),
    "q_video_phash" -> Seq("video"),
    "q_video_scenes" -> Seq("video_scenes"),
    "q_video_quality" -> Seq("video_junk"),
    "q_video_neardup" -> Seq("video_clusters"),
    "q_video_clusters" -> Seq("video_clusters"),
    "q_video_neardup_inc" -> Seq("video_clusters"),
    "q_crossmodal_dedup" -> Seq("png_clusters"),
    "q_multimodal_funnel" -> Seq("png_skewed", "video_clusters37"),
    "q_curation_report" -> Seq("png_skewed"),
    "q_audio_stats_ehash" -> Seq("wav_skewed"),
    "q_video_stats_phash" -> Seq("video_junk"),
    "q_media_curation_report" -> Seq("png_skewed", "wav_skewed", "video_junk"),
    "q_media_ingest_audit" -> Seq("png_skewed", "wav_skewed", "video_junk"),
    "q_multimodal_funnel_prod" -> Seq("png_skewed", "video_clusters37"),
    "q_media_curation_report_prod" -> Seq("png_skewed", "wav_skewed", "video_junk"),
    "q_media_ingest_audit_prod" -> Seq("png_skewed", "wav_skewed", "video_junk"),
    "q_image_cluster_reps" -> Seq("png_skewed"),
    "q_audio_cluster_reps" -> Seq("wav_skewed"),
    "q_video_cluster_reps" -> Seq("video_clusters"),
    "q_store_compact" -> Seq("png_skewed", "wav_skewed", "video_junk"))

  /** Fingerprint of the current testdata generation × fixture format:
    * a cached fixture is valid only for the documents file AND the
    * generator version it was derived from.
    */
  private def generationKey(sfDir: String): String = {
    def sig(f: java.io.File): String =
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        s"${kids.length}:${kids.map(_.lastModified).foldLeft(0L)(math.max)}:${kids.map(_.length).sum}"
      } else s"1:${f.lastModified}:${f.length}"
    val doc = new java.io.File(sfDir, "documents.parquet")
    val raw = s"$sfDir|v$FORMAT_VERSION|${sig(doc)}"
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(raw.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  private def cacheDir(sfDir: String, name: String): java.io.File =
    new java.io.File(new java.io.File(
      sys.props("java.io.tmpdir"), "graft_media_fixtures"),
      s"${generationKey(sfDir)}/$name")

  private def complete(dir: java.io.File): Boolean =
    new java.io.File(dir, MARKER).exists()

  private def rm(x: java.io.File): Unit = {
    Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
  }

  /** Materialize `gen()` to `target` parquet if no complete copy
    * exists, then read it back. Completeness = OUR marker, written
    * into staging before the atomic rename (never Spark's _SUCCESS).
    */
  private def materialized(spark: SparkSession, target: java.io.File,
                           gen: () => DataFrame): DataFrame = {
    if (!complete(target)) synchronized {
      if (!complete(target)) {
        // a target without the marker is stale state (interrupted run,
        // foreign dir) — removable, never a hard error. Re-check the
        // marker IMMEDIATELY before deleting: the outer check and this
        // rm are only JVM-locally synchronized, and a second PROCESS
        // may have completed its atomic rename in between — deleting
        // its fresh fixture would fail that process's concurrent read.
        if (target.exists() && !complete(target)) rm(target)
        val staging = new java.io.File(target.getParentFile,
          s".${target.getName}.staging-${spark.sparkContext.applicationId}")
        // Write the sidecar AT LEAST core-count wide (untimed setup):
        // the generators derive from a documents scan that at small SFs
        // is one or two splits, and a parquet row group cannot be split
        // on read — a single-file sidecar serializes every downstream
        // decode (THE dominant media cost) on one task with the other
        // cores idle. Spreading rows here keeps every codec query's
        // read path shuffle-free while making it scan-parallel.
        val g = gen()
        val width = math.max(spark.sparkContext.defaultParallelism,
          g.rdd.getNumPartitions)
        g.repartition(width).write.mode("overwrite").parquet(staging.toString)
        if (!new java.io.File(staging, MARKER).createNewFile())
          throw new java.io.IOException(s"cannot write fixture marker in $staging")
        target.getParentFile.mkdirs()
        if (!staging.renameTo(target)) {
          // a concurrent run won the rename — use its table
          if (!complete(target))
            throw new java.io.IOException(s"fixture rename failed: $staging -> $target")
          rm(staging)
        }
      }
    }
    spark.read.parquet(target.toString)
  }

  /** The fixture table for `kind` over `sfDir`'s documents —
    * materialized to parquet on first use, a plain scan afterwards.
    */
  def table(spark: SparkSession, sfDir: String, kind: String): DataFrame =
    materialized(spark, cacheDir(sfDir, kind),
      () => kinds(kind)(spark, Tables.documents(spark, sfDir)))

  /** Pre-materialize (untimed) every fixture the given queries read.
    * The warm-up is a REAL data scan — `count()` alone is answered
    * from parquet row-group metadata without reading a payload page,
    * so a sidecar written by an earlier process would leave its bytes
    * cold on disk and the first TIMED sample would pay the cold read.
    */
  def ensureFor(spark: SparkSession, sfDir: String, queryNames: Seq[String]): Unit =
    queryNames.flatMap(queryKinds.getOrElse(_, Nil)).distinct.foreach { k =>
      table(spark, sfDir, k).selectExpr("sum(length(payload))").collect()
      (): Unit
    }
}
