package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators: small-file compaction and clustered
  * rewrite. A 100 TB table accreting streaming/incremental writes
  * degenerates into millions of KB-scale files — listing cost, scan task
  * explosion, and useless row-group stats. Compaction is the maintenance
  * op every lakehouse runs (Delta OPTIMIZE, Iceberg rewrite_data_files);
  * the reference's catalog serves table locations but ships no rewrite op,
  * so this fills that gap Spark-first: one range repartition by the sort
  * key (tight per-file key ranges → real min/max pruning), one write.
  */
object Maintenance {

  /** Data files = not metadata sidecars: excludes _SUCCESS/_metadata,
    * hidden dotfiles, and local-FS .crc checksums — the same set for byte
    * and count accounting so the two always describe the same files. */
  private def dataFiles(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else graft.core.TableSnapshot.dataFiles(fs, p).filterNot(_.getPath.getName.endsWith(".crc"))
  }

  /** True when `maybeAncestor` is a path prefix of `p` (qualified paths). */
  private def isAncestor(maybeAncestor: Path, p: Path): Boolean = {
    var cur = p.getParent
    while (cur != null) {
      if (cur == maybeAncestor) return true
      cur = cur.getParent
    }
    false
  }

  /** Total bytes of data files under a table directory (driver-side
    * listing — metadata only, never reads data). */
  def dataBytes(spark: SparkSession, dir: String): Long =
    dataFiles(spark, dir).map(_.getLen).sum

  /** Number of data files under a table directory. */
  def dataFileCount(spark: SparkSession, dir: String): Int =
    dataFiles(spark, dir).size

  /** Rewrite the parquet table at `srcDir` into `destDir` with files of
    * roughly `targetFileBytes`, clustered on `sortCols` (range partition +
    * in-partition sort → non-overlapping per-file key ranges). The file
    * count derives from the CURRENT compressed size — the one number a
    * driver can know without scanning — so output files land near the
    * target regardless of input fragmentation. Returns the number of data
    * files actually written (can be below the plan when the sort key has
    * fewer distinct values than planned ranges — empty range partitions
    * write no file). */
  def compact(spark: SparkSession, srcDir: String, destDir: String,
      sortCols: Seq[String], targetFileBytes: Long = 128L << 20): Int = {
    // Overwrite of destDir happens while srcDir is being lazily read —
    // same (or nested) paths would delete the input mid-scan.
    val hc = spark.sparkContext.hadoopConfiguration
    val srcQ = new Path(srcDir).getFileSystem(hc)
      .makeQualified(new Path(srcDir))
    val dstQ = new Path(destDir).getFileSystem(hc)
      .makeQualified(new Path(destDir))
    require(srcQ != dstQ && !isAncestor(srcQ, dstQ) && !isAncestor(dstQ, srcQ),
      s"compact: destDir must not equal or nest with srcDir ($srcQ vs $dstQ)")
    val bytes = dataBytes(spark, srcDir)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(srcDir)
    val clustered =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nFiles)
    clustered.write.mode(SaveMode.Overwrite).parquet(destDir)
    dataFileCount(spark, destDir)
  }

  /** Per-file min/max of a column (the stats pruning actually uses),
    * computed distributedly via the input_file_name of each row. */
  /** Order-independent bucket checksums of a keyed table: each row folds
    * into its hash bucket as a 60-bit integer fingerprint (first 15 hex
    * chars of md5 over the key + content columns), summed exactly as
    * decimal — addition is commutative/associative, so the checksum is
    * identical for ANY row order or partitioning, which is what makes it
    * comparable across engines, snapshots, and clusters.
    *
    * This is the Merkle-tree leaf level of anti-entropy table sync: to
    * reconcile a 100 TB table against a replica, exchange `buckets`
    * checksum rows (KBs) instead of the table, then re-read ONLY the
    * buckets whose checksums disagree — see [[diffBuckets]].
    *
    * @return (bucket, n_rows, checksum) — one row per non-empty bucket */
  def bucketChecksums(df: DataFrame, idCol: String, contentCols: Seq[String],
      buckets: Int): DataFrame = {
    // "\u0001"-separated so ("ab","c") and ("a","bc") cannot collide.
    // NULL is encoded per column (a "\u0000" cell, while values carry a
    // "v" prefix) rather than skipped: concat_ws drops NULLs
    // positionally, so ('a', NULL, 'b') and ('a', 'b', NULL) would hash
    // identically and a sync could miss a value moving across columns.
    val fp = conv(substring(md5(concat_ws("\u0001",
        (idCol +: contentCols).map(c =>
          coalesce(concat(lit("v"), col(c).cast("string")), lit("\u0000"))): _*)
        .cast("binary")), 1, 15), 16, 10).cast("long")
    df.groupBy(Curation.hashBucket(col(idCol), "sync", buckets).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(fp.cast("decimal(38,0)")).as("checksum"))
  }

  /** Buckets where two snapshots disagree (full outer on the bucket id:
    * a bucket missing from one side, a row-count change, or any content
    * change all surface). The return is the work list for the row-level
    * re-read — the anti-entropy protocol touches only these buckets. */
  def diffBuckets(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("bucket"), col("n_rows").as("n_a"), col("checksum").as("ck_a"))
    val r = b.select(col("bucket"), col("n_rows").as("n_b"), col("checksum").as("ck_b"))
    l.join(r, Seq("bucket"), "full_outer")
      .filter(col("n_a").isNull || col("n_b").isNull ||
        col("n_a") =!= col("n_b") || col("ck_a") =!= col("ck_b"))
  }

  def fileStats(df: DataFrame, statCol: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(statCol)).as("min_v"), max(col(statCol)).as("max_v"),
        count(lit(1)).as("rows"))

  /** Clustering-quality report: for each file, how many OTHER files'
    * [min, max] key ranges overlap its own. Overlap is what defeats
    * min/max data skipping — a point lookup touches every overlapping
    * file — so `avg_overlap` is the "should I run [[compact]]?" signal
    * a table-maintenance scheduler polls. Freshly [[compact]]ed output
    * scores 0 (ranges are disjoint by construction); an unclustered
    * multi-writer table scores ~(files − 1). The pairwise interval join
    * runs on file METADATA (one row per file), never on data. */
  def overlapReport(df: DataFrame, statCol: String): DataFrame = {
    val stats = fileStats(df, statCol).localCheckpoint()
    val other = stats.select(col("file").as("__f2"),
      col("min_v").as("__mn2"), col("max_v").as("__mx2"))
    val overlaps = stats.join(other,
        col("file") =!= col("__f2") &&
        col("min_v") <= col("__mx2") && col("__mn2") <= col("max_v"), "left")
      .groupBy(col("file"), col("min_v"), col("max_v"), col("rows"))
      .agg(count(col("__f2")).as("n_overlapping"))
    overlaps.agg(
      count(lit(1)).as("n_files"),
      sum(col("rows")).as("n_rows"),
      round(avg(col("n_overlapping")), 4).as("avg_overlap"),
      max(col("n_overlapping")).as("max_overlap"))
  }
}
