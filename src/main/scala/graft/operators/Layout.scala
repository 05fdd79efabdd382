package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Write-layout optimization for scan pruning — the storage-side half of the
 * 100 TB story. Parquet readers skip whole files/row-groups from footer
 * min/max stats, but stats only prune if the layout CLUSTERS each filter
 * column; sorting by one column destroys locality for the others. Z-order
 * interleaves the bits of two key columns so files stay clustered in BOTH —
 * a point/range predicate on either column then touches a fraction of the
 * files (the Delta/Iceberg OPTIMIZE ZORDER shape, built from plain Column
 * arithmetic).
 */
object Layout {

  /**
   * 2-D Morton (Z-order) key: interleaves the low `bitsPer` bits of each
   * key (a on even positions, b on odd). Pure codegen'd integer arithmetic
   * — an unrolled sum of masked shifts, zero shuffle. Keys must be
   * non-negative; values ≥ 2^bitsPer wrap into the same cell (callers
   * bucket/hash real keys into range first, same as any Z-order impl).
   */
  def zorderKey(a: Column, b: Column, bitsPer: Int = 16): Column = {
    require(bitsPer > 0 && bitsPer <= 31, "bitsPer must be 1..31")
    (0 until bitsPer).map { i =>
      shiftright(a.cast("long"), i).bitwiseAND(1) * (1L << (2 * i)) +
        shiftright(b.cast("long"), i).bitwiseAND(1) * (1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /**
   * Write parquet clustered by the Z-key of two columns: range-partition on
   * the key (each output file owns a contiguous Z-range = a tile of the
   * (a,b) grid), sort within partitions so row-group stats are tight too.
   * `numFiles` is the file-count knob — at scale, target file sizes in the
   * 128 MB-1 GB band.
   */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int, bitsPer: Int = 16): Unit = {
    val keyed = df.withColumn("__z", zorderKey(col(colA), col(colB), bitsPer))
    keyed
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Small-file compaction: rewrite a parquet directory into files of
   * ~`targetBytes` each, sized from the table's ACTUAL on-disk bytes (not
   * a row-count guess — row width varies wildly across text/embedding
   * tables). The small-file problem is the operational failure mode of
   * streaming sinks at scale: a table appended in minute micro-batches
   * becomes millions of KB-files, and every scan pays per-file
   * open/footer/listing costs that dwarf the data read. One round-robin
   * shuffle (or a range shuffle when `clusterBy` is set, which also
   * restores min/max locality on that column for post-compaction
   * pruning), written to a staging dir and swapped in with two FileSystem
   * renames. The swap leaves a brief window where the path does not
   * resolve (a reader between the renames sees table-not-found, never
   * partial data) and a crash inside it strands the table at
   * `path__retired` — the next compact() call detects and rolls that
   * back. A table FORMAT (Delta/Iceberg) closes the window with an
   * atomic metadata commit; this is the plain-filesystem shape.
   *
   * Flat (unpartitioned) directories only: a Hive-partitioned table must
   * be compacted per partition (subdirectories — including a streaming
   * sink's `_spark_metadata` commit log — would be silently flattened or
   * destroyed by a whole-table rewrite, so they are refused instead).
   *
   * Returns the actual output file count.
   */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              clusterBy: Option[String] = None): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(path + "__compacting")
    val retired = new org.apache.hadoop.fs.Path(path + "__retired")
    // crash recovery: a previous run that died between its two renames
    // left the data at `retired` and nothing at `path` — restore first
    if (!fs.exists(p) && fs.exists(retired)) fs.rename(retired, p)
    require(fs.exists(p), s"compact: $path does not exist")
    val kids = fs.listStatus(p)
    require(!kids.exists(_.isDirectory),
      s"compact: $path has subdirectories (partitioned table or streaming " +
        "_spark_metadata) — compact each leaf partition directory instead")
    val totalBytes = kids.map(_.getLen).sum
    val numFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    val df = spark.read.parquet(path)
    val shaped = clusterBy match {
      case Some(c) => df.repartitionByRange(numFiles, col(c)).sortWithinPartitions(c)
      case None    => df.repartition(numFiles)
    }
    fs.delete(staging, true); fs.delete(retired, true)
    shaped.write.mode("overwrite").parquet(staging.toString)
    // swap: old table out, staging in — two metadata renames, no copy
    if (!fs.rename(p, retired)) sys.error(s"compact: could not retire $path")
    if (!fs.rename(staging, p)) {
      fs.rename(retired, p) // roll back — leave the table as it was
      sys.error(s"compact: could not activate staging for $path")
    }
    fs.delete(retired, true)
    // actual count: range partitions can come up empty on skewed/sampled
    // boundaries and then write no file — report what exists, not the plan
    fs.listStatus(p).count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** One shard's manifest entry: rows/bytes/content-checksum plus the
    * physical file, so a consumer can verify any shard independently. */
  final case class ShardInfo(shard: Int, file: String, rows: Long, bytes: Long,
                             checksum: Long)

  /** Release manifest: per-shard entries plus corpus totals. The checksum
    * is content-level (order-independent sum of per-row digests), so two
    * emits of the same corpus match even if parquet encodes bytes
    * differently between runs. */
  final case class Manifest(shards: Seq[ShardInfo], totalRows: Long, checksum: Long)

  /** Minimal JSON string encoder for the hand-built manifest/datacard
    * lines — quotes, backslashes and control chars must not corrupt the
    * artifact even if a stat value (e.g. a language tag) carries them. */
  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.append('"').toString
  }

  /**
   * Sharded training-output writer — the final-artifact emit step
   * (WebDataset/MDS shape): the corpus lands as `numShards` independently
   * verifiable shard files plus a `_manifest.json` (underscore-prefixed so parquet readers skip it, like _SUCCESS) with per-shard row
   * counts, byte sizes and content checksums.
   *
   * Determinism is the whole point of a release artifact:
   *  - shard membership = hash(id) mod shards — a row lands in the same
   *    shard on any cluster/partitioning (re-emit produces the same
   *    split);
   *  - rows are written in (hash, id) order within each shard (the
   *    deterministicShuffle order — decorrelated but reproducible);
   *  - the checksum is the SUM of per-row digests (stableHash60 of the
   *    canonical JSON row) through DECIMAL, reduced mod 2^62 (ANSI-safe:
   *    a plain long sum of 60-bit digests overflows) — independent of
   *    write order AND recomputable by any engine that can hash JSON rows,
   *    so a downstream loader re-derives it from content alone.
   *
   * Scale shape: one hash shuffle on the shard key (each shard collapses
   * into one task → one file); the checksum aggregation rides the same
   * scan. Shard count is the parallelism/file-size knob — at 100 TB pick
   * shards so files land in the 128 MB-1 GB band, exactly like compact().
   *
   * Returns the manifest (also written as JSON next to the shards).
   */
  def writeShards(df: DataFrame, path: String, idCol: String,
                  numShards: Int): Manifest = {
    require(numShards > 0, "numShards must be positive")
    val spark = df.sparkSession
    val h = graft.functions.Hashing.stableHash60(col(idCol).cast("string"))
    df.withColumn("shard", pmod(h, lit(numShards)).cast("int"))
      .withColumn("__h", h)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__h"), col(idCol))
      .drop("__h")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // shard stats from the WRITTEN files, not the source lineage: the
    // manifest then describes the artifact itself (rows/checksums of what
    // a loader will actually read), and the upstream lineage runs once —
    // for the write — instead of twice
    val written = spark.read.parquet(path)
    val rowDigest = graft.functions.Hashing.stableHash60(
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
    val stats = written
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("rows"),
        (sum(rowDigest.cast("decimal(38,0)")) % lit(1L << 62)).cast("long").as("checksum"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shards = fs.listStatus(p).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("shard="))
      .map { dir =>
        val shard = dir.getPath.getName.stripPrefix("shard=").toInt
        val files = fs.listStatus(dir.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        require(files.length == 1,
          s"shard $shard wrote ${files.length} files — expected exactly one")
        val (rows, sum) = stats(shard)
        ShardInfo(shard, s"shard=$shard/${files.head.getPath.getName}",
          rows, files.head.getLen, sum)
      }.sortBy(_.shard).toSeq
    val manifest = Manifest(shards, shards.map(_.rows).sum,
      // same mod-2^62 domain as the per-shard sums (and no intermediate
      // overflow: each addend is < 2^62)
      shards.foldLeft(0L)((a, s) => (a + s.checksum) % (1L << 62)))
    val json = shards.map(s =>
        s"""{"shard":${s.shard},"file":${jsonStr(s.file)},"rows":${s.rows},""" +
          s""""bytes":${s.bytes},"checksum":${s.checksum}}""")
      .mkString(
        s"""{"total_rows":${manifest.totalRows},"checksum":${manifest.checksum},"shards":[""",
        ",", "]}\n")
    val out = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    val os = fs.create(out, true)
    try os.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    manifest
  }

  /**
   * Corpus release: sharded emit + the one-row data card
   * (CorpusStats.corpusReport) written as `_datacard.json` beside the
   * manifest — the artifact a data team actually hands to a training run.
   * The card totals come from the same frame that was sharded, so
   * card.n_docs == manifest.total_rows by construction.
   */
  def writeCorpusRelease(docs: DataFrame, path: String, idCol: String,
                         textCol: String, numShards: Int): Manifest = {
    val manifest = writeShards(docs, path, idCol, numShards)
    val card = graft.operators.CorpusStats.corpusReport(docs, idCol, textCol).head()
    val fields = card.schema.fields.zipWithIndex.map { case (f, i) =>
      val v = card.get(i) match {
        case null      => "null"
        case s: String => jsonStr(s)
        case x         => x.toString
      }
      s""""${f.name}":$v"""
    }.mkString("{", ",", "}\n")
    val p = new org.apache.hadoop.fs.Path(path, "_datacard.json")
    val fs = p.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(fields.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    manifest
  }

  /**
   * One compact JSON object per row over `cols` (field order = column
   * order, null fields INCLUDED — the JSONL interchange contract): the
   * textual release format WebDataset/HF-datasets loaders ingest.
   * Escaping is the RFC 8259 minimal set (\" \\ \n \t \r, \u00XX for
   * other control chars, UTF-8 passthrough above ASCII) — which Spark's
   * Jackson writer and DuckDB's to_json agree on byte-for-byte, so the
   * emitted lines are oracle-able (q106) and a release re-emitted by any
   * engine checksums identically. Pure projection — export at scan speed.
   */
  def jsonLine(cols: Seq[Column]): Column =
    to_json(struct(cols: _*), Map("ignoreNullFields" -> "false"))

  /** JSONL shard sink: [[jsonLine]] per row → text files. Same
    * hash-membership sharding as [[writeShards]] (one file per shard, the
    * shard key never depends on partitioning), minus the parquet
    * metadata; pair with spark.read.schema(...).json to load. */
  def writeJsonl(df: DataFrame, path: String, idCol: String, cols: Seq[String],
                 numShards: Int): Unit = {
    require(numShards > 0, "numShards must be positive")
    val h = graft.functions.Hashing.stableHash60(col(idCol).cast("string"))
    df.withColumn("shard", pmod(h, lit(numShards)).cast("int"))
      .withColumn("__h", h)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__h"), col(idCol))
      .select(col("shard"), jsonLine(cols.map(col)).as("value"))
      .write.mode("overwrite").partitionBy("shard").text(path)
  }

  /**
   * Bucketed co-located table writer — Spark's native pre-shuffled layout
   * for the "same big join, every day" workload: both sides written with
   * `bucketBy(n, keys)` (+ in-bucket `sortBy`) join WITHOUT any exchange
   * or sort at read time — the shuffle is paid ONCE at write, then every
   * downstream join/aggregation on the bucket keys reuses the layout. At
   * 100 TB this converts the nightly fact×fact join from the cluster's
   * biggest shuffle into a zipped per-bucket merge (bucket counts must
   * match across tables — pick one power of two per subject area and
   * standardize).
   *
   * Written as an EXTERNAL table (explicit `path`) so the parquet lives
   * where the caller says; `bucketBy` requires the catalog (`saveAsTable`)
   * because bucket metadata travels in the table definition, not the
   * files. Read back with `spark.table(name)` — `spark.read.parquet(path)`
   * sees the data but not the bucketing and will shuffle again. The
   * repartition on the keys first keeps one file per bucket (without it,
   * every task writes a file per bucket it touches — at 1000 tasks × 64
   * buckets that is 64k small files).
   */
  def writeBucketed(df: DataFrame, name: String, path: String,
                    buckets: Int, keys: Seq[String]): Unit = {
    require(buckets > 0 && keys.nonEmpty, "need buckets > 0 and >= 1 key")
    df.repartition(buckets, keys.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(name)
  }
}
