package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.ops.Prefix
import graft.pipelines.{CdxIndex, CrawlPipeline}
import graft.text.Canonical

/** An on-disk `.warc.gz` archive with a member-granular ERASURE path —
  * the GDPR/right-to-be-forgotten operation over the crawl-archive
  * layer (VERDICT r10 #9). [[Maintenance.deleteKeys]] erases from
  * parquet shards; this is the same contract for the archive story the
  * X131 writer + X134 CDX index opened: delete every capture of a
  * set of documents from a written archive while touching ONLY the
  * shards that contain them.
  *
  * Layout (CommonCrawl's, the X113 contract): each record is its OWN
  * gzip member, members concatenated into `shard-NNNNN.warc.gz` files,
  * shards assigned by the X134 CDX discipline (global SURT order →
  * rank DIV rowsPerShard). The sidecar index (`_index/`, parquet
  * partitioned by shard) carries each capture's COMPRESSED member
  * offset and length — cc-index's `filename, offset, length` triple —
  * which is exactly what makes erasure a byte splice instead of a
  * decompress-recompress: a kept member's bytes are COPIED verbatim,
  * so untouched members (and entirely untouched shards) stay
  * bit-identical, spec-pinned in `WarcArchiveSpec`.
  *
  * Erasure ([[erase]]):
  *  1. affected shards come from the INDEX (one bounded semi join —
  *     never an archive scan);
  *  2. each affected shard is rewritten ON AN EXECUTOR by STREAMING
  *     the surviving member ranges into an attempt-unique temp file
  *     (seek + bounded copy; shard bytes never fully in memory; the
  *     live file is read-only so retries are safe), then the driver
  *     finalizes with metadata-only renames — a GDPR request touching
  *     thousands of shards parallelizes across the cluster instead of
  *     serializing through one machine; a fully-doomed shard's file is
  *     deleted outright;
  *  3. the index partitions of affected shards are rewritten with
  *     surviving offsets shifted down by the removed bytes before
  *     them (dynamic partition overwrite — untouched index partitions
  *     stay put, the [[Maintenance.deleteKeys]] discipline);
  *  4. every surviving member of every rewritten shard is RE-VERIFIED
  *     through the real read path (offset/length slice → X113 gunzip →
  *     X112 WARC walk) against the index digest, distributed, before
  *     the call returns. Work throughout ∝ affected shards.
  *
  * The `q_warc_erasure` gate runs write → erase → re-read-from-disk
  * end to end and answers to a DuckDB oracle that restates the
  * SURVIVORS in closed form (payloads carry their doc_id, so the
  * re-read rows are self-identifying; compressed bytes are never
  * compared — content is the contract, as everywhere in the X113
  * family).
  *
  * Reference scope: no archive surface in the reference; north-star
  * crawl-corpus maintenance.
  */
object WarcArchive {

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnShim.expression(c)
  private def gz(c: Column): Column = shim(graft.plans.GzipBytes(ex(c)))
  private def gunzip(c: Column): Column = shim(graft.plans.GunzipText(ex(c)))
  private def parsed(c: Column): Column = shim(graft.plans.WarcRecords(ex(c)))

  /** Hadoop `Configuration` is not `Serializable`; it IS `Writable`.
    * This wrapper ships the DRIVER's configuration to writer tasks —
    * a task-side `new Configuration()` would silently drop cluster FS
    * settings (object-store credentials, defaultFS) outside local
    * mode.
    */
  private class SerConf(@transient var conf: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject(); conf = new Configuration(false); conf.readFields(in)
    }
  }

  def shardFileName(shardId: Long): String = f"shard-$shardId%05d.warc.gz"

  /** Diagnostic: how many distinct tasks the last [[erase]] call's
    * splice fanned across (spec-pinned > 1 for multi-shard erasures).
    */
  @volatile private[graft] var lastSplicePartitions: Int = 0

  /** The planted capture set — the X134 plant (messy URI →
    * canonicalization → SURT) with the payload carrying its doc_id on
    * the first line so a disk round-trip is self-identifying.
    * (doc_id, surt, ck, canon, t).
    */
  def captures(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val keyed = Canonical.canonicalize(
      docs.select(col("doc_id"), CrawlPipeline.plantUri.as("url"),
        concat(col("doc_id").cast("string"), lit("\n"),
          coalesce(col("text"), lit(""))).as("t")))
    keyed
      .withColumn("surt", concat(
        array_join(reverse(split(col("host"), "\\.")), ","), lit(")"), col("path"),
        when(col("q") === "", lit("")).otherwise(concat(lit("?"), col("q")))))
      .withColumn("ck", concat(col("surt"), lit(""),
        lpad(col("doc_id").cast("string"), 12, "0")))
      .select(col("doc_id"), col("surt"), col("ck"), col("canon"), col("t"))
  }

  /** Write the planted archive under `outDir` (replacing any previous
    * one): `shard-NNNNN.warc.gz` member-concatenated shard files plus
    * the `_index/` parquet. The global SURT rank is the X134 path,
    * [[graft.ops.Prefix]] over range partitions of the sort key (one
    * range exchange; the persisted range partitions are released once
    * the archive is written), then each writer task streams its shards to
    * the FS — member offsets are recorded from the true compressed byte
    * counts as they are written.
    */
  def writeArchive(spark: SparkSession, dir: String, outDir: String,
                   rowsPerShard: Long = CdxIndex.RowsPerShard): Unit = {
    import spark.implicits._
    val hp = new Path(outDir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
    fs.mkdirs(hp)
    val bc = spark.sparkContext.broadcast(
      new SerConf(spark.sparkContext.hadoopConfiguration))

    val rec = captures(spark, dir)
      .withColumn("member", gz(graft.sources.WarcWriter.record(
        lit("response"), col("canon"), col("t"))))
      .withColumn("digest", sha2(col("t").cast("binary"), 256))
    val ranged = Prefix.rangeShards(
      rec.select(col("doc_id"), col("ck"), col("surt"), col("member"), col("digest")), Seq("ck"))
    val sharded = Prefix.before(ranged, Nil, "pid", Seq("ck"), lit(1L))
      .withColumn("shard_id", expr(s"before DIV $rowsPerShard"))
      .select(col("shard_id"), col("ck"), col("doc_id"), col("surt"),
        col("member"), col("digest"))
    val out = outDir
    val index = sharded
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("ck"))
      .as[(Long, String, Long, String, Array[Byte], String)]
      .mapPartitions { it =>
        val tfs = new Path(out).getFileSystem(bc.value.conf)
        val done = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, String, Long, Long, String)]
        var cur = -1L
        var os: org.apache.hadoop.fs.FSDataOutputStream = null
        var offset = 0L
        def close(): Unit = if (os != null) {
          os.close()
          // task-retry safety: the shard becomes visible only complete
          val tmp = new Path(out, shardFileName(cur) + ".tmp")
          val fin = new Path(out, shardFileName(cur))
          if (tfs.exists(fin)) tfs.delete(fin, true)
          require(tfs.rename(tmp, fin), s"rename $tmp -> $fin failed")
          os = null
        }
        it.foreach { case (shard, _, docId, surt, member, digest) =>
          if (shard != cur) {
            close(); cur = shard; offset = 0L
            os = tfs.create(new Path(out, shardFileName(shard) + ".tmp"), true)
          }
          os.write(member)
          done += ((shard, docId, surt, offset, member.length.toLong, digest))
          offset += member.length
        }
        close()
        done.iterator
      }
      .toDF("shard_id", "doc_id", "surt", "member_offset", "member_bytes", "digest")
    index.write.mode("overwrite").partitionBy("shard_id")
      .parquet(new Path(hp, "_index").toString)
    ranged.unpersist()
    // the session-shared FileStatusCache has NO TTL by default: a
    // re-written archive at the same path would otherwise serve stale
    // listings (old parquet part names, old shard lengths) to every
    // later read in the session
    spark.catalog.refreshByPath(outDir)
  }

  def readIndex(spark: SparkSession, outDir: String): DataFrame = {
    // load the EXPLICIT shard_id=N partition dirs with basePath rather
    // than the `_index` root: a root whose name starts with `_` is a
    // hidden path to DataSource's listing filter, which WARNs "All
    // paths were ignored" on every read (the round-11 bench-tail noise)
    // before falling back to reading it anyway
    val idxRoot = new Path(outDir, "_index")
    val fs = idxRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Option(fs.globStatus(new Path(idxRoot, "shard_id=*")))
      .getOrElse(Array.empty).map(_.getPath.toString)
    require(parts.nonEmpty, s"no index partitions under $idxRoot")
    spark.read.option("basePath", idxRoot.toString)
      .parquet(scala.collection.immutable.ArraySeq.unsafeWrapArray(parts): _*)
      // partition-column type inference reads `shard_id=N` dirs as INT;
      // pin the index schema back to the written LONG
      .withColumn("shard_id", col("shard_id").cast("long"))
  }

  /** Erase every capture of `docIds` from the archive at `outDir`.
    * Returns the number of shard files rewritten (deleted shards
    * count). Untouched shards are never opened, let alone rewritten.
    */
  def erase(spark: SparkSession, outDir: String, docIds: Seq[Long]): Int = {
    import spark.implicits._
    if (docIds.isEmpty) return 0
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = readIndex(spark, outDir)
    val doomed = docIds.toDF("doc_id")
    val affected = idx.join(broadcast(doomed), Seq("doc_id"), "left_semi")
      .select(col("shard_id")).distinct().as[Long].collect().sorted
    if (affected.isEmpty) return 0

    // surviving index of the affected shards, offsets shifted down by
    // the doomed bytes BEFORE each member — pure integer arithmetic,
    // so the index agrees with the spliced files by construction and
    // the re-verify below proves it against the actual bytes
    val affIdx = graft.ops.Caches.persist(idx
      .filter(col("shard_id").isin(affected.map(Long.box): _*))
      .join(broadcast(doomed.withColumn("is_doomed", lit(true))), Seq("doc_id"), "left"))
    val wBefore = Window.partitionBy(col("shard_id")).orderBy(col("member_offset"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val newIdx = graft.ops.Caches.persist(affIdx
      .withColumn("removed_before", coalesce(sum(
        when(col("is_doomed"), col("member_bytes")).otherwise(lit(0L))).over(wBefore), lit(0L)))
      .filter(col("is_doomed").isNull)
      .select(col("doc_id"), col("surt"),
        (col("member_offset") - col("removed_before")).as("member_offset"),
        col("member_bytes"), col("digest"), col("shard_id")))

    // splice each affected shard ON EXECUTORS: the per-shard survivor
    // ranges travel as one grouped row per shard (never via the
    // driver), each task streams its shards' surviving ranges into an
    // ATTEMPT-UNIQUE temp file (seek + bounded copy; shard bytes never
    // fully in memory; the live file is only READ, so task retries and
    // speculative twins are safe — losers just leave an orphan temp,
    // swept below). The driver then finalizes with a metadata-only
    // delete+rename loop — at a thousand affected shards that is a
    // thousand FS metadata RPCs, not a thousand serialized byte copies
    // (the round-11 shape this replaces).
    val outStr = outDir
    val bcConf = spark.sparkContext.broadcast(
      new SerConf(spark.sparkContext.hadoopConfiguration))
    val nTasks = math.max(1,
      math.min(affected.length, spark.sparkContext.defaultParallelism))
    val spliced = affIdx
      .select(col("shard_id"), col("member_offset"), col("member_bytes"),
        coalesce(col("is_doomed"), lit(false)).as("d"))
      .groupBy(col("shard_id"))
      .agg(sort_array(collect_list(struct(
        col("member_offset"), col("member_bytes"), col("d")))).as("ms"))
      .as[(Long, Seq[(Long, Long, Boolean)])]
      .repartition(nTasks)
      .map { case (shard, ms) =>
        val survivors = ms.filterNot(_._3)
        val tc = org.apache.spark.TaskContext.get()
        val pid = if (tc == null) 0 else tc.partitionId()
        if (survivors.isEmpty) (shard, "", pid)
        else {
          val tfs = new Path(outStr).getFileSystem(bcConf.value.conf)
          val attempt = if (tc == null) "local" else tc.taskAttemptId().toString
          val tmpName = shardFileName(shard) + ".erase_tmp." + attempt
          val in = tfs.open(new Path(outStr, shardFileName(shard)))
          val os = tfs.create(new Path(outStr, tmpName), true)
          val buf = new Array[Byte](1 << 16)
          try survivors.foreach { case (off, len, _) =>
            in.seek(off)
            var left = len
            while (left > 0) {
              val n = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
              require(n > 0, s"short read splicing shard $shard at offset $off")
              os.write(buf, 0, n); left -= n
            }
          } finally { in.close(); os.close() }
          (shard, tmpName, pid)
        }
      }.collect()
    lastSplicePartitions = spliced.map(_._3).distinct.length
    spliced.foreach { case (shard, tmpName, _) =>
      val live = new Path(outDir, shardFileName(shard))
      fs.delete(live, true)
      if (tmpName.nonEmpty)
        require(fs.rename(new Path(outDir, tmpName), live),
          s"rename $tmpName -> $live failed")
    }
    // sweep temp files left by failed or speculative-loser attempts
    fs.globStatus(new Path(outDir, "*.erase_tmp.*")) match {
      case null => ()
      case stale => stale.foreach(s => fs.delete(s.getPath, false))
    }

    // index rewrite: dynamic partition overwrite touches only the
    // affected shards' partitions; fully-doomed shards produce no
    // survivor rows, so their index directories are deleted explicitly
    // (the deleteKeys discipline)
    val survivingShards = newIdx.select(col("shard_id")).distinct().as[Long].collect().toSet
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try newIdx.write.mode("overwrite").partitionBy("shard_id")
      .parquet(new Path(outDir, "_index").toString)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    affected.filterNot(survivingShards).foreach { s =>
      fs.delete(new Path(outDir, s"_index/shard_id=$s"), true)
    }
    // invalidate stale listings (spliced shard files changed length in
    // place; _index partitions were rewritten) before the verification
    // read and any later reader
    spark.catalog.refreshByPath(outDir)

    // re-verify THROUGH THE READER, distributed: slice every surviving
    // member of every rewritten shard at its new offset, gunzip the
    // member (X113), walk the record (X112), and require the payload's
    // recomputed digest to match the index — a bad splice cannot
    // return success
    if (survivingShards.nonEmpty) {
      // load the affected shard FILES explicitly — a directory load
      // with a post-scan filter on the path-derived shard_id still
      // READS every shard's bytes (the predicate is not a partition
      // filter), which would make the verify pass's I/O proportional
      // to the whole archive instead of the erasure request
      val paths = survivingShards.toSeq.sorted
        .map(s => new Path(outDir, shardFileName(s)).toString)
      val files = spark.read.format("binaryFile").load(paths: _*)
        .withColumn("shard_id",
          regexp_extract(col("path"), "shard-(\\d+)\\.warc\\.gz$", 1).cast("long"))
        .select(col("shard_id"), col("content"))
      val reread = files.join(newIdx, Seq("shard_id"))
        .withColumn("member", expr("substring(content, member_offset + 1, member_bytes)"))
        .withColumn("rec", parsed(gunzip(col("member"))))
        .select(col("shard_id"), col("doc_id"), col("digest"),
          try_element_at(col("rec"), lit(1)).as("r"))
      val bad = reread.filter(col("r").isNull ||
        sha2(col("r").getField("payload").cast("binary"), 256) =!= col("digest")).count()
      require(bad == 0,
        s"erasure verification failed: $bad surviving members unreadable or digest-mismatched")
    }
    affIdx.unpersist()
    newIdx.unpersist()
    affected.length
  }

  /** Read every record of the archive back through the X113 + X112
    * path: (doc_id, uri, content_length, digest) — doc_id parsed from
    * the payload's self-identifying first line.
    */
  def readArchive(spark: SparkSession, outDir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "shard-*.warc.gz").load(outDir)
      .select(explode(parsed(gunzip(col("content")))).as("rec"))
      .select(
        expr("CAST(split(rec.payload, '\n', 2)[0] AS BIGINT)").as("doc_id"),
        col("rec").getField("uri").as("uri"),
        col("rec").getField("content_length").as("content_length"),
        sha2(col("rec").getField("payload").cast("binary"), 256).as("digest"))

  /** Which documents the `q_warc_erasure` gate erases: every capture
    * of ONE planted host (the realistic GDPR shape — a person/domain's
    * pages, which the SURT shard order keeps CONTIGUOUS, so the erase
    * touches ~|host|/rowsPerShard shards of the archive, not all of
    * them; the spec pins the byte-identity of the rest).
    */
  val DoomedMod = 23L
  val DoomedResidue = 5L

  /** Gate-archive dirs are PER-JVM-NONCE'd (VERDICT r14 #1c): a fixed
    * per-sfDir path let two graft JVMs benching concurrently delete
    * each other's archive mid-write — [[writeArchive]] opens with
    * `fs.delete` of its target dir, so a driver bench and a builder
    * run on the same host could each yank the other's shards between
    * that delete and the reads that follow. The nonce makes the dir
    * exclusively this JVM's; a shutdown hook deletes it on exit
    * (hard-killed JVMs leave orphans under tmpdir, which are inert —
    * no other run ever resolves another nonce's path).
    */
  private val jvmNonce: String = java.util.UUID.randomUUID().toString.take(12)
  private val gateDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val gateCleanup = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def gateDir(sfDir: String): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_warc_erasure_" + Integer.toHexString(sfDir.hashCode) + "_" + jvmNonce).getPath
    gateDirs.add(p)
    if (gateCleanup.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        gateDirs.forEach { d =>
          try deleteRecursively(new java.io.File(d))
          catch { case _: Throwable => () } // best-effort; orphans are inert
        }))
    p
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** q_warc_erasure: write the archive, erase the doomed residue
    * class, and answer with the re-read SURVIVORS from disk.
    */
  def erasureRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = gateDir(dir)
    writeArchive(spark, dir, out)
    import spark.implicits._
    val doomed = Tables.documents(spark, dir)
      .filter(col("doc_id") % DoomedMod === DoomedResidue)
      .select(col("doc_id")).as[Long].collect().toSeq
    erase(spark, out, doomed)
    readArchive(spark, out)
  }

  def erasureOracle: String =
    s"""WITH src AS (
       |  SELECT doc_id,
       |    ${CrawlPipeline.plantUriSqlPublic} AS url,
       |    CAST(doc_id AS VARCHAR) || chr(10) || coalesce(text, '') AS t
       |  FROM documents),
       |${Canonical.canonicalCtesFrom("src")}
       |SELECT n.doc_id,
       |  ${Canonical.canonSelectSql} AS uri,
       |  CAST(strlen(s.t) AS BIGINT) AS content_length,
       |  sha256(s.t) AS digest
       |FROM normed n JOIN src s USING (doc_id)
       |WHERE n.doc_id % $DoomedMod <> $DoomedResidue""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_warc_erasure" -> Query((s, dir) => erasureRoundTrip(s, dir), erasureOracle)
  )
}
