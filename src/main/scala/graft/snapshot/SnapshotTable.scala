package graft.snapshot

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Hash-bucket sub-partitioning inside each logical partition:
  * physical partition value = `<logicalValue>~b<pmod(xxhash64(hashCols), n)>`.
  * This is what keeps an incremental merge from rewriting a whole label
  * at 100 TB: a batch touches only the buckets its keys hash into, and
  * every untouched bucket's files are carried forward by reference
  * (Iceberg MERGE file-pruning semantics).
  *
  * `n` only lays out a FULL commit (a table's first, or a re-bucket);
  * the manifest records it, and every later scoped read or write takes
  * the count from the latest manifest, like an Iceberg partition spec
  * kept in table metadata. An open with a different `n` therefore still
  * addresses the committed buckets. With `n` None the table's first
  * commit sizes the count from its rows ([[BucketSpec.bucketsFor]]), and
  * a later full commit keeps the recorded count.
  */
final case class BucketSpec(hashCols: Seq[String], n: Option[Int] = None)

object BucketSpec {

  /** Rows per bucket a sized layout aims at. Committed graphs measure
    * 6–35 bytes per row (manifest bytes ÷ footer rows): 7.3 over the
    * perfbench graph (165,710 bytes for 22,689 rows; nodes 6.1, edges
    * 8.4) and 18 over a 1,982-row test graph, whose footers weigh more.
    * A 2^20-row bucket is therefore a file of roughly 8–20 MB: large
    * enough that the per-file cost of a commit and a scan (about 20 ms a
    * file on a 4-vCPU host) is small beside its bytes, small enough that
    * a scoped merge touching one row rewrites tens of MB, not the label.
    * The perfbench graph's largest label (10,944 MENTIONS edges) is one
    * bucket.
    */
  val TargetBucketRows: Long = 1L << 20

  /** The bucket count a sized first commit lays out for a table whose
    * largest logical partition holds `maxRows` rows: the smallest power
    * of two ≥ ⌈maxRows ÷ [[TargetBucketRows]]⌉, and at least 1. A power
    * of two keeps every later re-bucket by a factor of two a split of
    * whole buckets.
    */
  def bucketsFor(maxRows: Long): Int = {
    val want = (maxRows + TargetBucketRows - 1) / TargetBucketRows
    var n = 1
    while (n < want) n <<= 1
    n
  }
}

/** One committed physical partition: its data dir (relative to the
  * table root) and its data files as (name, bytes), sorted by name.
  */
private[snapshot] final case class Part(dir: String, files: Seq[(String, Long)])

/** What a read of one version needs: its data schema and its partitions. */
private[snapshot] final case class Contents(schema: StructType, parts: Map[String, Part])

/** The file index of a snapshot read: exactly the data files a manifest
  * records, with their recorded sizes, so building a relation lists no
  * directory. `files` are (absolute file URI, bytes). Two indexes over
  * the same files are equal, as cache lookups and exchange reuse compare
  * relations by their index.
  */
private[snapshot] final class ManifestFileIndex(val files: Seq[(String, Long)])
    extends FileIndex {
  // the partition dirs: only what a plan prints as the scan's location
  override def rootPaths: Seq[HPath] =
    files.map(f => new HPath(new java.net.URI(f._1)).getParent).distinct
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.map { case (f, bytes) =>
      new FileStatus(bytes, false, 0, 0, 0, new HPath(new java.net.URI(f)))
    }.toArray))
  override def inputFiles: Array[String] = files.map(_._1).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2).sum
  override def partitionSchema: StructType = new StructType()
  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => files.toSet == o.files.toSet
    case _ => false
  }
  override def hashCode: Int = files.toSet.hashCode
}

/** Iceberg-style snapshot table over partitioned Parquet.
  *
  * No Iceberg runtime jar exists in this offline environment (SURVEY.md
  * §4), so this layer supplies the three Iceberg properties the engine
  * depends on, re-implemented minimally:
  *
  *  1. **Atomic commits** — data files are written first, then a
  *     versioned JSON manifest is moved into place atomically; readers
  *     only ever see fully-committed versions (the manifest move is the
  *     commit point, like an Iceberg metadata swap).
  *  2. **Partition/bucket-level file reuse** — a commit that touches only
  *     physical partition P writes new files for P and *references* the
  *     previous version's files for every other partition. With a
  *     [[BucketSpec]] the physical unit is `(label, hash(key) % n)`, so
  *     an incremental merge into a corpus-sized label rewrites only the
  *     touched buckets, and the reference's sub-resource-scoped cleanup
  *     (cartography/graph/cleanupbuilder.py:150-169) stays sub-linear.
  *  3. **Time travel** — every historical version stays readable until
  *     expired, which powers drift detection
  *     (cartography/driftdetect/detect_deviations.py:66-112) and
  *     checkpoint/resume.
  *
  * Layout:
  * {{{
  *   root/data/v{N}/{physical value}/part-*.parquet
  *   root/_manifest/v{N}.json   // commit record:
  *     // partitions: physical value -> data dir
  *     // files:      physical value -> {data file name -> bytes}
  *     // schema:     the version's data schema, as Parquet reads it back
  * }}}
  *
  * Like an Iceberg scan planned from its manifests, opening a version
  * lists no directory and reads no footer: the relation is built over
  * exactly the recorded files with the recorded schema, so it costs no
  * Spark job.
  *
  * A partitioned table is always bucketed, and keeps the logical
  * partition column in the data files (readers get it for free in one
  * multi-path scan); an unpartitioned table is one `all` directory.
  */
final class SnapshotTable(val spark: SparkSession, val root: String,
                          val partitionCol: Option[String] = None,
                          val bucket: Option[BucketSpec] = None) {

  require(bucket.isDefined == partitionCol.isDefined,
    "a partitioned table must be bucketed, and bucketing requires a partition column")

  private val pvCol = "_pv" // physical partition value column (write-side only)

  private def manifestDir: Path = Paths.get(root, "_manifest")
  private def manifestPath(v: Long): Path = manifestDir.resolve(s"v$v.json")

  /** Eager directory listing that CLOSES the underlying stream —
    * `Files.list` holds a file descriptor until GC otherwise, and the
    * maintenance paths visit O(buckets × versions) directories.
    */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def versions: Seq[Long] = {
    if (!Files.isDirectory(manifestDir)) return Seq.empty
    listDir(manifestDir)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  def latestVersion: Option[Long] = versions.lastOption

  def exists: Boolean = latestVersion.isDefined

  // ---- physical partition values ------------------------------------------

  private def spec: BucketSpec =
    bucket.getOrElse(sys.error(s"snapshot table $root has no partition column"))

  /** `<logical>~b<bucket>` of each row under `n` buckets. */
  private def bucketedValue(n: Int): Column =
    concat(col(partitionCol.get).cast("string"), lit("~b"),
      pmod(xxhash64(spec.hashCols.map(col): _*), lit(n.toLong)).cast("string"))

  /** The bucket count a scoped write after version `v` uses: its
    * manifest's record (the declared count only lays out a full commit).
    */
  private def layoutOf(v: Long): Int =
    recordedBuckets(v).filter(_ > 0).getOrElse(throw new IllegalStateException(
      s"snapshot table $root version $v records no bucket count (its " +
        "manifest predates the record), so bucket-scoped reads and writes " +
        "cannot name its partitions; re-lay the graph out once with " +
        "`GraftCli rebucket --new-buckets N`"))

  /** Distinct physical partition values `df`'s rows hash into under `n`
    * buckets (one collect job).
    */
  private def touchedBy(df: DataFrame, n: Int): Seq[String] =
    df.select(bucketedValue(n).as(pvCol)).distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  // ---- manifest (de)serialization: Jackson, not hand-rolled strings —
  // partition values are data-derived (dynamic rel labels), and an
  // unescaped quote/backslash in one would silently corrupt the manifest
  // and lose partitions on the next read.
  private def writeManifest(v: Long, updateTag: Long, buckets: Int,
                            schema: StructType, parts: Map[String, Part]): Unit = {
    Files.createDirectories(manifestDir)
    val root = SnapshotTable.mapper.createObjectNode()
    root.put("version", v)
    root.put("updateTag", updateTag)
    // the bucket count this version was laid out with (0: unpartitioned)
    // — the only source scoped reads and writes take it from
    root.put("buckets", buckets): Unit
    root.set[JsonNode]("schema", SnapshotTable.mapper.readTree(schema.json)): Unit
    val sorted = parts.toSeq.sortBy(_._1)
    val p = root.putObject("partitions")
    sorted.foreach { case (k, part) => p.put(k, part.dir): Unit }
    val f = root.putObject("files")
    sorted.foreach { case (k, part) =>
      val names = f.putObject(k)
      part.files.foreach { case (name, bytes) => names.put(name, bytes): Unit }
    }
    val tmp = manifestDir.resolve(s".v$v.json.tmp")
    Files.writeString(tmp, SnapshotTable.mapper.writeValueAsString(root))
    Files.move(tmp, manifestPath(v), StandardCopyOption.ATOMIC_MOVE)
  }

  private def manifest(v: Long): JsonNode =
    SnapshotTable.mapper.readTree(Files.readString(manifestPath(v)))

  private def partitionsIn(m: JsonNode): Map[String, String] =
    m.get("partitions").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  /** physical partition value -> data dir (relative to root) for a version. */
  def partitionsOf(v: Long): Map[String, String] = partitionsIn(manifest(v))

  /** Version `v` as a read needs it: its data schema and each physical
    * partition's data files. A manifest written before the `schema` and
    * `files` records derives them on the driver: it lists the partition
    * directories and takes the schema from the first file's footer, as
    * a Spark multi-path read would (still no Spark job).
    */
  private def contentsOf(v: Long): Contents = {
    val m = manifest(v)
    val dirs = partitionsIn(m)
    (Option(m.get("schema")), Option(m.get("files"))) match {
      case (Some(schema), Some(files)) =>
        Contents(DataType.fromJson(schema.toString).asInstanceOf[StructType],
          dirs.map { case (k, dir) =>
            k -> Part(dir, files.get(k).properties().asScala
              .map(e => e.getKey -> e.getValue.asLong()).toSeq)
          })
      case _ =>
        val parts = dirs.map { case (k, dir) => k -> listPart(dir) }
        val first = parts.toSeq.sortBy(_._1)
          .collectFirst { case (_, Part(dir, (name, _) +: _)) => s"$dir/$name" }
        Contents(first.fold(new StructType())(footerSchema), parts)
    }
  }

  /** A data dir's data files with their sizes, sorted by name. Hidden
    * files (`.crc` checksums, `_SUCCESS`) are not data, as for Spark's
    * own file listing.
    */
  private def listPart(dir: String): Part = {
    val d = Paths.get(root, dir)
    val files =
      if (!Files.isDirectory(d)) Seq.empty
      else listDir(d).map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
        .sorted.map(n => n -> Files.size(d.resolve(n)))
    Part(dir, files)
  }

  private def openFooter(rel: String) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new HPath(Paths.get(root, rel).toUri), spark.sessionState.newHadoopConf())
    org.apache.parquet.hadoop.ParquetFileReader.open(in)
  }

  /** The data schema Spark reads back from one data file: the Spark
    * schema its writer stored in the footer, every field nullable.
    */
  private def footerSchema(rel: String): StructType = {
    val r = openFooter(rel)
    try SnapshotTable.nullable(DataType.fromJson(r.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType])
    finally r.close()
  }

  def updateTagOf(v: Long): Long = manifest(v).get("updateTag").asLong()

  /** Bucket count version `v` was committed with (0: unpartitioned;
    * None: a legacy manifest that predates the record).
    */
  def recordedBuckets(v: Long): Option[Int] =
    Option(manifest(v).get("buckets")).map(_.asInt())

  // ---- reads -------------------------------------------------------------

  /** One relation over the recorded files of version `v`'s partitions
    * `keys` (those absent from its manifest are skipped), with `v`'s
    * schema: no directory listing, no footer, no Spark job. Reads follow
    * manifest entries, no bucket arithmetic, so they stay valid across a
    * re-bucket for time travel. None when no key is in the manifest.
    */
  private def readOf(v: Long, keys: Iterable[String]): Option[DataFrame] = {
    val c = contentsOf(v)
    val parts = keys.toSeq.distinct.sorted.flatMap(c.parts.get)
    if (parts.isEmpty) None
    else {
      // each path qualified as Spark's local file listing qualifies the
      // files it returns, so `inputFiles` equal a Spark read's
      val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def uri(rel: String) = new HPath(Paths.get(root, rel).toAbsolutePath.toString)
        .makeQualified(fs.getUri, fs.getWorkingDirectory).toUri.toString
      val index = new ManifestFileIndex(
        parts.flatMap(p => p.files.map { case (n, bytes) => uri(s"${p.dir}/$n") -> bytes }))
      Some(spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
        c.schema, None, new ParquetFileFormat, Map.empty)(spark)))
    }
  }

  /** Read one version (time travel), with that version's schema. */
  def readVersion(v: Long): DataFrame =
    readOf(v, partitionsOf(v).keys)
      .getOrElse(sys.error(s"snapshot table $root version $v is empty"))

  /** Latest committed state. */
  def read(): DataFrame = readVersion(latestVersion.getOrElse(
    sys.error(s"snapshot table $root has no committed version")))

  /** Read a single LOGICAL partition (all its buckets) of the latest
    * version — a pruned scan that never touches other partitions' files.
    */
  def readPartition(value: String): Option[DataFrame] =
    latestVersion.flatMap(v => readOf(v, partitionsOf(v).keys
      .filter(_.startsWith(value + "~b"))))

  /** The physical partitions whose data-dir refs differ between versions
    * `a` and `b`. Every other partition is carried by REFERENCE between
    * the two manifests, so it is byte-identical by construction: a
    * comparison of the versions reads only these.
    */
  private def changedPartitions(a: Long, b: Long): Seq[String] = {
    val (pa, pb) = (partitionsOf(a), partitionsOf(b))
    (pa.keySet ++ pb.keySet).filter(k => pa.get(k) != pb.get(k)).toSeq.sorted
  }

  /** Row-level changelog between two committed versions — the Iceberg
    * `create_changelog_view` / CDC-read analog: one row per key whose
    * state changed, op ∈ insert / delete / update with the full before/
    * after column structs (unchanged rows emit nothing).
    *
    * MANIFEST-PRUNED: only the [[changedPartitions]] are read AT ALL —
    * an incremental sync that touched 3 of 4,096 buckets diffs 3
    * buckets, never the table. Rows that merely moved partitions (a
    * re-bucket) still diff correctly: both homes are rewritten, so both
    * are in the changed set.
    *
    * The diff itself is one full-outer join co-partitioned on `keyCols`;
    * keys must be unique per version (the nodes/edges tables' MERGE
    * invariant).
    */
  def changelog(fromV: Long, toV: Long, keyCols: Seq[String]): DataFrame = {
    val changed = changedPartitions(fromV, toV)
    (readOf(fromV, changed), readOf(toV, changed)) match {
      case (Some(b), Some(a)) => SnapshotTable.diff(b, a, keyCols)
      case (Some(b), None) => SnapshotTable.diff(b, b.limit(0), keyCols)
      case (None, Some(a)) => SnapshotTable.diff(a.limit(0), a, keyCols)
      case (None, None) =>
        // no partition ref differs, so the versions hold the same rows
        // (as when fromV == toV): a legitimate EMPTY changelog, not an
        // error
        val z = readVersion(toV).limit(0)
        SnapshotTable.diff(z, z, keyCols)
    }
  }

  // ---- commits -----------------------------------------------------------

  /** Decode Spark/Hive percent-escaped partition directory names. */
  private def unescapePart(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Write physical partitions of `df` under `n` buckets in ONE Spark
    * job via partitionBy — a commit touching k partitions would otherwise
    * run k write jobs, each recomputing or rescanning the plan.
    * `values = Some(touched)` restricts the write to those physical
    * partitions (scoped commits); None writes everything present (full
    * commits — no distinct-values pre-pass job). Returns physical value →
    * its data dir and files for the manifest; values that produced no
    * rows are absent (an empty partition and a missing one read the same).
    */
  private def writeDataPartitioned(df: DataFrame, v: Long, n: Int,
                                   values: Option[Seq[String]]): Map[String, Part] = {
    val base = s"data/v$v"
    // keep the logical column in the data; partition dirs carry _pv.
    // Cluster by physical value before the write: without it every task
    // holds rows of every bucket and partitionBy opens tasks×buckets
    // writers (thousands of tiny files per commit); with it each
    // bucket's rows land in one task → ~one file per bucket.
    val clustered = df.withColumn(pvCol, bucketedValue(n)).repartition(col(pvCol))
    val scoped = values match {
      case Some(vs) => clustered.filter(col(pvCol).isin(vs: _*))
      case None => clustered
    }
    scoped.write.mode("overwrite").partitionBy(pvCol).parquet(s"$root/$base")
    val dir = Paths.get(root, "data", s"v$v")
    if (!Files.isDirectory(dir)) return Map.empty
    listDir(dir)
      .map(_.getFileName.toString)
      .filter(_.startsWith(s"$pvCol="))
      .map(d => unescapePart(d.stripPrefix(s"$pvCol=")) -> listPart(s"$base/$d"))
      .toMap
  }

  /** Full-table commit: every physical partition present in `df` is
    * written, and partitions absent from `df` are dropped. The layout's
    * bucket count is the declared [[BucketSpec]] count, else the one the
    * latest manifest records, else (a first commit) sized from `df`'s
    * rows per logical partition; the manifest records it. This is how a
    * table gets its first layout, and how it is re-bucketed. ONE write
    * job, no pre-pass beyond a first commit's sizing count: partitionBy
    * lays out whatever values exist and the manifest is built from the
    * directories actually written.
    */
  def commit(df: DataFrame, updateTag: Long): Long = bucket match {
    case Some(BucketSpec(_, declared)) =>
      commitLaidOut(df, updateTag, declared
        .orElse(latestVersion.flatMap(recordedBuckets).filter(_ > 0))
        .getOrElse(BucketSpec.bucketsFor(rowsPerPartition(df).maxOption.getOrElse(0L))))
    case None =>
      val v = latestVersion.getOrElse(0L) + 1
      val rel = s"data/v$v/all"
      df.write.mode("overwrite").parquet(s"$root/$rel")
      writeManifest(v, updateTag, 0, SnapshotTable.nullable(df.schema),
        Map("all" -> listPart(rel)))
      v
  }

  /** A full commit of a bucketed table laid out under `n` buckets. */
  private def commitLaidOut(df: DataFrame, updateTag: Long, n: Int): Long = {
    val v = latestVersion.getOrElse(0L) + 1
    writeManifest(v, updateTag, n, SnapshotTable.nullable(df.schema),
      writeDataPartitioned(df, v, n, values = None))
    v
  }

  /** Row count of each logical partition `df` holds (one aggregate);
    * empty when `df` is.
    */
  private def rowsPerPartition(df: DataFrame): Seq[Long] =
    df.groupBy(col(partitionCol.get)).count().collect().map(_.getLong(1)).toSeq

  /** The one bucket-precise read-modify-write: every merge and cleanup
    * commits through here. `delta` names the rows a write
    * touches; `f` gets the current state of exactly the physical
    * partitions `delta` hashes into (None when there are none) and
    * returns their new contents, which replace those partitions while
    * every other partition is carried forward by reference.
    *
    * The latest manifest is read once: its bucket count computes the
    * touched partitions and lays out the commit.
    *
    * On a table with no version yet, `f(None)` IS the table: one full
    * commit with no touched-partition pre-pass, made only when `delta`
    * has rows. One aggregate over `delta` answers both that and, unless
    * the spec declares a count, the layout: `delta`'s rows per logical
    * partition size it ([[BucketSpec.bucketsFor]]).
    *
    * Returns the committed version, or None when nothing was committed.
    */
  def rewrite(delta: DataFrame, updateTag: Long)
             (f: Option[DataFrame] => DataFrame): Option[Long] = {
    require(partitionCol.isDefined, "rewrite requires a partition column")
    latestVersion match {
      case None =>
        val rows = rowsPerPartition(delta)
        if (rows.isEmpty) None
        else Some(commitLaidOut(f(None), updateTag,
          spec.n.getOrElse(BucketSpec.bucketsFor(rows.max))))
      case Some(prev) =>
        val n = layoutOf(prev)
        val touched = touchedBy(delta, n)
        if (touched.isEmpty) None
        else {
          val df = f(readOf(prev, touched))
          val v = prev + 1
          // every partition `delta` does not touch is carried by reference
          writeManifest(v, updateTag, n, SnapshotTable.nullable(df.schema),
            (contentsOf(prev).parts -- touched) ++ writeDataPartitioned(df, v, n, Some(touched)))
          Some(v)
        }
    }
  }

  /** Per-file committed row counts of a version, straight from the
    * parquet footers of its recorded files — NO Spark job. Powers
    * lineage rows and benchmark page counts; a count() job on tiny
    * committed tables costs more in scheduling than the data.
    */
  def fileRowCounts(v: Long): Seq[Long] =
    footerRows(contentsOf(v).parts.toSeq.sortBy(_._1).map(_._2))

  /** Total committed rows of the latest version (footer-based, no job). */
  def rowCount(): Long = fileRowCounts(latestVersion.getOrElse(
    sys.error(s"snapshot table $root has no committed version"))).sum

  /** Committed rows of version `toV` minus those of `fromV`, summed from
    * the footers of the [[changedPartitions]] only — NO Spark job. For a
    * write that only deletes rows, `-rowDelta(base, committed)` is
    * exactly the number it deleted, as a statement's summary counters
    * report it (cartography/graph/statement.py:99-112).
    */
  def rowDelta(fromV: Long, toV: Long): Long = {
    val changed = changedPartitions(fromV, toV)
    def rows(v: Long): Long = footerRows(changed.flatMap(contentsOf(v).parts.get)).sum
    rows(toV) - rows(fromV)
  }

  /** The footer row count of each data file of `parts`, in order. */
  private def footerRows(parts: Seq[Part]): Seq[Long] =
    parts.flatMap { case Part(dir, files) =>
      files.map { case (name, _) =>
        val r = openFooter(s"$dir/$name")
        try r.getRecordCount finally r.close()
      }
    }

  // ---- maintenance --------------------------------------------------------

  /** Iceberg `expire_snapshots` analog: retain the newest `keepLast`
    * versions, delete older manifests, then delete every data directory
    * no retained manifest references. Because commits carry untouched
    * partitions forward by file reference, a retained version may point
    * into an EXPIRED version's `data/vK` — those directories are kept;
    * only truly unreferenced ones are removed. Without this, a 100 TB
    * table under daily incremental syncs grows by every bucket ever
    * rewritten; with it, storage is bounded by `keepLast` × table size
    * while time travel over the retained window (and resume, which reads
    * only the latest version per tag) keeps working.
    *
    * Crash safety follows Iceberg's metadata-first contract: expired
    * MANIFESTS are deleted before any data — a crash mid-expiry leaves
    * only orphaned data directories (harmless: never listed, never read),
    * and the data sweep judges liveness against the RETAINED manifests,
    * so a re-run collects orphans from any earlier interrupted expiry.
    *
    * Concurrent-writer safety: a commit writes `data/v{N+1}` FIRST and
    * moves its manifest last, so an expire racing a sync would see the
    * in-flight version as an unreferenced orphan. The sweep therefore
    * NEVER touches version directories numbered above the latest
    * retained manifest — those belong to a writer that has not committed
    * yet (Iceberg's `expire_snapshots` likewise never deletes files it
    * cannot prove expired; collecting ABANDONED in-flight dirs is
    * [[removeOrphans]]' job, with an age guard this method does not
    * need). Orphans ≤ the retained
    * ceiling (from earlier interrupted expiries or superseded commits)
    * are collected as before.
    *
    * Returns (expired version ids, deleted data dirs relative to root).
    */
  def expireVersions(keepLast: Int): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val vs = versions
    val expired = vs.dropRight(keepLast)
    if (expired.isEmpty) return (Nil, Nil)
    val retained = vs.takeRight(keepLast).toSet
    val maxRetained = retained.max
    val referenced: Set[String] =
      retained.toSeq.flatMap(v => partitionsOf(v).values).toSet
    expired.foreach(v => Files.deleteIfExists(manifestPath(v)): Unit)
    val dataRoot = Paths.get(root, "data")
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    if (Files.isDirectory(dataRoot)) {
      listDir(dataRoot).foreach { vdir =>
        val vname = vdir.getFileName.toString
        // vNum None (unrecognized dir) or > maxRetained (in-flight
        // writer) → leave the whole directory alone
        val vNum = vname.stripPrefix("v").toLongOption
        val sweepable = vNum.exists(_ <= maxRetained)
        if (sweepable) {
          listDir(vdir).foreach { child =>
            val rel = s"data/$vname/${child.getFileName}"
            if (Files.isDirectory(child) && !referenced(rel)) {
              SnapshotTable.deleteTree(child)
              deleted += rel: Unit
            }
          }
          // a version dir that no retained manifest owns and whose
          // referenced children are all gone holds only job-marker files
          // (_SUCCESS) — drop it entirely (also collects orphans left by
          // a previously interrupted expiry)
          val isLive = vNum.exists(retained.contains)
          val remaining = listDir(vdir)
          if (!isLive && remaining.forall(p => !Files.isDirectory(p))) {
            remaining.foreach(Files.deleteIfExists(_))
            Files.deleteIfExists(vdir): Unit
          }
        }
      }
    }
    (expired, deleted.toSeq.sorted)
  }

  /** Newest last-modified time anywhere under `p` — the liveness signal
    * for the orphan sweep (a writer still streaming files keeps touching
    * something under its version dir).
    */
  private def newestMtime(p: Path): Long = {
    val self = Files.getLastModifiedTime(p).toMillis
    if (!Files.isDirectory(p)) self
    else (self +: listDir(p).map(newestMtime)).max
  }

  /** Iceberg `remove_orphan_files` analog for ABANDONED IN-FLIGHT
    * commits. A writer creates `data/v{N+1}` first and moves its
    * manifest last; if it crashes in between, the data directory
    * lingers — [[expireVersions]] deliberately never touches version
    * dirs above the latest retained manifest because it cannot tell an
    * abandoned writer from a live one. This separate, AGE-GUARDED sweep
    * can: an uncommitted version dir whose newest file is older than
    * `olderThanMillis` has no live writer (a streaming write keeps
    * touching files), so it is collected. Committed versions are never
    * candidates regardless of age. Size the guard comfortably above the
    * longest plausible commit (Iceberg's default for the same knob is
    * 3 days). Returns deleted dirs relative to root.
    */
  def removeOrphans(olderThanMillis: Long,
                    now: Long = System.currentTimeMillis()): Seq[String] = {
    require(olderThanMillis > 0, "olderThanMillis must be positive")
    val dataRoot = Paths.get(root, "data")
    if (!Files.isDirectory(dataRoot)) return Nil
    val ceiling = latestVersion.getOrElse(0L)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    listDir(dataRoot).foreach { vdir =>
      val vname = vdir.getFileName.toString
      val vNum = vname.stripPrefix("v").toLongOption
      // only recognizably-versioned dirs ABOVE the committed ceiling are
      // orphan candidates; everything else is expireVersions' territory
      if (vNum.exists(_ > ceiling) && newestMtime(vdir) < now - olderThanMillis) {
        SnapshotTable.deleteTree(vdir)
        deleted += s"data/$vname": Unit
      }
    }
    deleted.toSeq.sorted
  }
}

object SnapshotTable {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `t` with every field, element and value nullable — the schema a
    * Parquet read hands back, whatever the writer's nullability.
    */
  private[snapshot] def nullable(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType => MapType(nullableType(m.keyType), nullableType(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Key-wise row diff of two same-schema frames: op ∈ insert (key only
    * in `after`) / delete (only in `before`) / update (present in both
    * with any non-key difference, null-safely compared; a map column
    * compares by its sorted entries); unchanged keys emit nothing.
    * Non-key columns are returned, as they are, in `_before`/`_after`
    * structs so callers project what they need. The join is a single
    * full-outer co-partitioned on the keys.
    */
  def diff(before: DataFrame, after: DataFrame,
           keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "diff needs at least one key column")
    require(before.columns.sorted.sameElements(after.columns.sorted),
      s"schema mismatch: ${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    val nonKey = before.columns.filterNot(keyCols.contains).toSeq
    require(nonKey.forall(after.columns.contains) &&
      keyCols.forall(before.columns.contains),
      s"key columns $keyCols must exist in both frames")
    // keys-only schema: presence IS the payload — a constant marker
    // struct keeps the insert/delete classification and never updates
    def payload = if (nonKey.isEmpty) struct(lit(0).as("_present"))
      else struct(nonKey.map(col): _*)
    val b = before.select(keyCols.map(col) :+ payload.as("_before"): _*)
    val a = after.select(keyCols.map(col) :+ payload.as("_after"): _*)
    // a map has no ordering, so `<=>` rejects it: compare its entries
    // sorted by key, as DriftStates canonicalizes maps
    val maps = nonKey.filter(c => before.schema(c).dataType.isInstanceOf[MapType]).toSet
    def comparable(side: String): Column =
      if (maps.isEmpty) col(side)
      else struct(nonKey.map { c =>
        val f = col(side).getField(c)
        (if (maps(c)) sort_array(map_entries(f)) else f).as(c)
      }: _*)
    b.join(a, keyCols, "full_outer")
      .withColumn("op",
        when(col("_before").isNull, lit("insert"))
          .when(col("_after").isNull, lit("delete"))
          .when(!(comparable("_before") <=> comparable("_after")), lit("update")))
      .filter(col("op").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("op"), col("_before"),
        col("_after")): _*)
  }

  /** Recursive delete with the stream CLOSED per directory (`Files.list`
    * holds a file descriptor until GC) — the one filesystem-deletion
    * helper, shared by expire/orphan maintenance, the session's scratch
    * cleanup and the streaming queries' checkpoint litter so there is a
    * single idiom to keep correct.
    */
  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val kids = try s.iterator().asScala.toSeq finally s.close()
      kids.foreach(deleteTree)
    }
    Files.deleteIfExists(p): Unit
  }

  def apply(spark: SparkSession, root: String,
            partitionCol: Option[String] = None,
            bucket: Option[BucketSpec] = None): SnapshotTable =
    new SnapshotTable(spark, root, partitionCol, bucket)
}
