package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference,
  Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.StreamShim
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Versioned table with a transaction log (i23): the commit protocol the
  * reference leans on everywhere it says `USING DELTA` — its gold layer
  * (5_gold/fact_transaction.py:49 and every dim_ / fact_ sibling) and its
  * audit log (1_audit/audit_start.py:2 "audit.audit_logs (Delta)") are
  * versioned tables, while i09's directory-swap overwrite can only model
  * the full-refresh case. This is the log-structured re-expression: a
  * table is a directory of immutable parquet data files plus an append-only
  * `_graft_log/` of numbered JSON commits, and EVERY reader plans from the
  * log, never from a directory listing.
  *
  * Log layout (all driver-side metadata-rate; one small JSON file per
  * commit):
  * {{{
  *   <table>/_graft_log/00000000000000000000.json   commit 0
  *   <table>/_graft_log/00000000000000000010.checkpoint.parquet
  *   <table>/data/<commit-uuid>/part-*.parquet      immutable data files
  * }}}
  * A commit file is JSON Lines — `meta` (schema), `add {path, rows}`,
  * `remove {path}`, `txn {app, batch}`, `vacuum {horizon}` actions — and
  * MUST end with a terminal `commit {op}` marker line: a torn half-written
  * commit file fails every subsequent read NAMED (manual recovery, the
  * honest answer on a filesystem without atomic single-file publish)
  * instead of serving a half-applied transaction. An `overwrite` commit is
  * encoded uniformly as `remove` of every previously-live file plus the
  * new `add`s, so snapshot replay is one fold over actions.
  *
  * Concurrency is optimistic, exactly like the public Delta protocol on
  * HDFS: a writer computes its snapshot, writes its DATA files first
  * (invisible until referenced), then publishes version N via a
  * put-if-absent of `N.json` (temp write + hard-link/no-overwrite-rename
  * — see [[tryPublish]]) whose mutual exclusion is the filesystem's own. A
  * loser re-reads the log and retries at N+1; blind appends and full
  * overwrites commute, so retry needs no conflict analysis beyond the
  * `txn` re-check that makes streaming idempotent ([[txnAppend]]: an
  * (app, batch) pair already in the log commits nothing — the
  * foreachBatch replay contract, s34).
  *
  * Scale: the log IS the file listing — a snapshot read of a 100 TB /
  * 10⁶-file table costs one log replay (driver, metadata-rate) instead of
  * an object-store LIST storm, and time travel is replay-to-V. Replay
  * cost is bounded by [[checkpointInterval]]: writers roll a full-state
  * `.checkpoint.parquet` every N commits and readers start from the
  * latest checkpoint ≤ target, so steady-state planning reads ≤ N commit files
  * regardless of table age. [[vacuum]] deletes data files no retained
  * version references and records the horizon in the log; a time travel
  * below the horizon fails NAMED rather than half-reading.
  */
object VersionedTable {

  val LogDirName = "_graft_log"
  val DataDirName = "data"

  /** Commits between full-state checkpoints (writers roll one when
    * `version % checkpointInterval == 0`).
    */
  val checkpointInterval = 10

  private val MaxCommitAttempts = 20

  /** Reader features THIS build understands (the public Delta
    * `minReaderVersion`/reader-features guard, i23 hardened): a commit that
    * introduces table state an old reader would silently mis-serve (e.g. a
    * deletion vector the reader would ignore, resurrecting deleted rows)
    * carries a `protocol {readerFeatures}` action; [[snapshotAt]] fails
    * NAMED on any feature not in this set — wrong rows are never an
    * acceptable downgrade path. Write-side: every feature-introducing
    * commit emits the protocol line itself, so the guard can never lag the
    * data that needs it.
    */
  val SupportedReaderFeatures: Set[String] = Set("deletion-vectors")

  /** Writer features THIS build understands (i23's write-side twin, r20):
    * a table whose state an old WRITER would silently corrupt — rewriting
    * DV'd files without folding their deletion vectors, committing DML to
    * a change-feed table without its cdc sidecars, appending rows past a
    * CHECK constraint it never evaluated, vacuuming sidecars it doesn't
    * know are referenced — carries the feature in its protocol state, and
    * [[commitLoop]] refuses EVERY commit (the one enforcement point all
    * writers pass through) on a feature not in this set. Reads are never
    * blocked by writer features: a stale writer fails named while the
    * same build keeps serving rows. `var` is the spec seam for
    * simulating a stale writer; production never reassigns it.
    */
  private[graft] var SupportedWriterFeatures: Set[String] =
    Set("deletion-vectors", "change-data-feed", "check-constraints")

  /** Wall-clock seam for commit timestamps: production is
    * `System.currentTimeMillis`; specs pin deterministic clocks for the
    * timestamp-time-travel contract.
    */
  private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** Test seam: runs between an append's, a DML's or an [[optimize]]'s
    * decision (its snapshot) and its commit step — the window where a
    * concurrent commit must be DETECTED. Production value is a no-op;
    * specs inject an interleaved writer here to pin conflict semantics
    * deterministically instead of racing threads.
    */
  private[graft] var testHookBeforeCommit: () => Unit = () => ()

  private val mapper = new ObjectMapper()

  /** Per-file, per-column footer statistics carried IN the `add` action
    * (i25) — file-level data skipping carried by the commit itself, so a
    * snapshot read can prune files by predicate without a side file that
    * can go stale. Values are normalized to three carriers: Long (all
    * integrals + date days + timestamp micros), Double, String (UTF-8
    * unsigned order — parquet's own binary ordering). None min/max =
    * all-null column chunk; a column absent from the map = no usable stats
    * (never pruned — always safe).
    */
  final case class ColStats(min: Option[Any], max: Option[Any], nulls: Long)

  /** One live data file: relative path, exact row count, byte size (0 on
    * pre-i25 log entries — [[optimize]] re-stats those), hive-style
    * partition values (empty = unpartitioned), per-column stats.
    * `dataChange` is the public Delta protocol flag: false marks a file
    * whose rows are a REWRITE of rows already in the table (a merge's
    * survivor files, an optimize's compacted files) — the change feed
    * must skip it or every rewrite double-serves old rows.
    */
  final case class AddFile(path: String, rows: Long, bytes: Long = 0L,
      partitions: Map[String, String] = Map.empty,
      stats: Map[String, ColStats] = Map.empty,
      dataChange: Boolean = true,
      dv: Option[DvDesc] = None) {
    /** Effective (servable) row count: physical rows minus DV-deleted. */
    def effRows: Long = rows - dv.map(_.rows).getOrElse(0L)
  }

  /** Deletion-vector sidecar reference (i30): `path` is a table-relative
    * parquet directory of (file, pos) deleted-row coordinates; `rows` is
    * the count of THIS file's deleted positions in it (the merge-on-read
    * cardinality). A dir may be shared by every file one DELETE touched;
    * deleted-position sets only grow per file, so the read-side anti-join
    * over the union of referenced dirs is exact.
    */
  final case class DvDesc(path: String, rows: Long)

  /** The replayed log state as of one version. `txns` holds the highest
    * committed batch per streaming app (batch ids are monotonic per app —
    * the Structured Streaming contract s34 rides). `partitionBy` is the
    * table's declared partition columns (empty = unpartitioned).
    */
  final case class Snapshot(version: Long, schemaJson: String,
      files: Seq[AddFile], txns: Map[String, Long], vacuumHorizon: Long,
      partitionBy: Seq[String] = Nil,
      readerFeatures: Set[String] = Set.empty,
      changeFeed: Boolean = false,
      constraints: Map[String, String] = Map.empty,
      maxCommitTs: Option[Long] = Some(0L),
      writerFeatures: Set[String] = Set.empty) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  // ---------------------------------------------------------------- paths

  /** The state before version 0: what a replay starts from and what the
    * two creating commits decide against.
    */
  private val Genesis = Snapshot(-1L, null, Nil, Map.empty, 0L)

  private def logDir(table: String) = new Path(table, LogDirName)

  private def commitPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")

  private def checkpointParquetPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.checkpoint.parquet")

  private[sources] def fsOf(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Path → table-relative form, byte-identical to what [[writeData]]
    * logs in `add` actions. ONE definition: hit resolution (merge/delete/
    * update) and vacuum's referenced-set check compare against logged
    * paths, and a divergent copy means silently missed files or deleted
    * live data.
    */
  private def relativize(fs: FileSystem, table: String, p: Path): String =
    relativize(tableRoot(fs, table), p)

  /** Loop-hoistable form: qualify the table root ONCE, then relativize
    * per file (vacuum's sweep visits every data file).
    */
  private def tableRoot(fs: FileSystem, table: String): String =
    fs.makeQualified(new Path(table)).toUri.getPath

  private def relativize(rootPath: String, p: Path): String =
    p.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")

  private[sources] def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def commitVersions(fs: FileSystem, table: String): Seq[Long] =
    listLog(fs, table)._1

  /** (commit versions asc, checkpoint versions asc). */
  private def listLog(fs: FileSystem, table: String): (Seq[Long], Seq[Long]) = {
    val dir = logDir(table)
    if (!fs.exists(dir)) return (Nil, Nil)
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val commits = names.collect { case n if n.matches("\\d{20}\\.json") =>
      n.stripSuffix(".json").toLong }.sorted.toSeq
    // only parquet checkpoints: a table whose checkpoints are all in the
    // pre-r20 JSON format replays from its commits (graft never deletes a
    // commit file) until its next checkpoint-interval commit rolls one
    val checkpoints = names.collect {
      case n if n.matches("\\d{20}\\.checkpoint\\.parquet") =>
        n.stripSuffix(".checkpoint.parquet").toLong
    }.sorted.toSeq
    (commits, checkpoints)
  }

  def exists(spark: SparkSession, table: String): Boolean =
    commitVersions(fsOf(spark, table), table).nonEmpty

  /** The one missing-table error, for readers and every commit but the
    * two that create a table.
    */
  private def requireTable(present: Boolean, table: String): Unit =
    require(present, s"no versioned table at $table — create() it first")

  /** Latest committed version; fails named on a non-table path. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val vs = commitVersions(fsOf(spark, table), table)
    requireTable(vs.nonEmpty, table)
    vs.last
  }

  // ------------------------------------------------------------ commit IO

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Put-if-absent publish with ATOMIC content visibility: the body is
    * fully written to a temp file in the log dir, then linked/renamed to
    * the final name with a genuinely no-overwrite primitive. Content
    * appears atomically (a reader can never see a half-written commit
    * file — create-then-write in place would expose one, and a crash
    * mid-write would brick the table as a permanent torn commit), and
    * mutual exclusion is the filesystem's own:
    *  - local/POSIX: `Files.createLink(dst, tmp)` — hard-link creation is
    *    an atomic fail-if-exists syscall (rename(2) REPLACES, so two
    *    photo-finish writers would both think they won);
    *  - HDFS-like: `rename(tmp, dst)` — the HDFS contract fails when the
    *    destination exists, atomically.
    * A crash before the publish leaves an invisible `.tmp` straggler
    * ([[vacuum]] sweeps stale temps). False = lost; retry at the next
    * version.
    */
  private def tryPublish(fs: FileSystem, p: Path, body: String, token: String): Boolean = {
    val tmp = new Path(p.getParent, s".${p.getName}.$token.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // HDFS-shaped publish: the contract says rename FAILS (false) when the
    // destination exists. An EXCEPTION leaves the outcome ambiguous —
    // disambiguate by the writer token (a rename that succeeded before
    // throwing must never be retried as a double commit); if even the
    // confirmation read fails, FAIL NAMED rather than guess either way
    // (assuming "lost" would double-commit, assuming "won" would drop).
    def renamePublish(): Boolean =
      try { if (fs.exists(p)) false else fs.rename(tmp, p) }
      catch {
        case e: java.io.IOException =>
          try fs.exists(p) && readText(fs, p).contains(token)
          catch {
            case e2: java.io.IOException => sys.error(
              s"commit publish outcome UNCONFIRMABLE at $p (${e.getMessage}; " +
                s"confirmation read: ${e2.getMessage}) — refusing to guess: " +
                "retrying could double-commit, abandoning could drop")
          }
      }
    val won =
      if (fs.getUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(p.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // a file:// mount without hard links (FAT/FUSE/network): fall
          // back to exists+rename — the pre-link protocol, with its
          // (narrow) photo-finish window, beats crashing every commit
          case _: UnsupportedOperationException => renamePublish()
          case _: java.nio.file.FileSystemException if !fs.exists(p) => renamePublish()
          case _: java.io.IOException if fs.exists(p) => false
        }
      } else renamePublish()
    // the local-FS link leaves tmp behind by design; sweep it either way
    try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
    won
  }

  private def obj(kind: String)(fill: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
    val root = mapper.createObjectNode()
    fill(root.putObject(kind))
    mapper.writeValueAsString(root)
  }

  private def fillAdd(n: com.fasterxml.jackson.databind.node.ObjectNode, f: AddFile): Unit = {
    n.put("path", f.path); n.put("rows", f.rows)
    if (f.bytes > 0) n.put("bytes", f.bytes)
    if (!f.dataChange) n.put("dataChange", false)
    f.dv.foreach { d =>
      val o = n.putObject("dv"); o.put("path", d.path); o.put("rows", d.rows) }
    if (f.partitions.nonEmpty) {
      val p = n.putObject("partitions")
      f.partitions.foreach { case (k, v) =>
        if (v == null) p.putNull(k) else p.put(k, v) }
    }
    if (f.stats.nonEmpty) {
      val st = n.putObject("stats")
      f.stats.foreach { case (c, cs) =>
        val o = st.putObject(c)
        def putVal(field: String, v: Option[Any]): Unit = v match {
          case Some(l: Long) => o.put(field, l)
          case Some(d: Double) => o.put(field, d)
          case Some(s: String) => o.put(field, s)
          case _ => o.putNull(field)
        }
        putVal("min", cs.min); putVal("max", cs.max); o.put("nulls", cs.nulls)
      }
    }
  }

  private def addLine(f: AddFile) = obj("add")(fillAdd(_, f))

  private def parseAdd(a: JsonNode): AddFile = {
    val bytes = if (a.has("bytes")) a.get("bytes").asLong() else 0L
    val parts = if (!a.has("partitions")) Map.empty[String, String] else {
      val it = a.get("partitions").fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next()
        b += (e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())) }
      b.result()
    }
    val stats = if (!a.has("stats")) Map.empty[String, ColStats] else {
      val it = a.get("stats").fields()
      val b = Map.newBuilder[String, ColStats]
      def readVal(n: JsonNode): Option[Any] =
        if (n == null || n.isNull) None
        else if (n.isTextual) Some(n.asText())
        else if (n.isIntegralNumber) Some(n.asLong())
        else Some(n.asDouble())
      while (it.hasNext) { val e = it.next(); val o = e.getValue
        b += (e.getKey -> ColStats(readVal(o.get("min")), readVal(o.get("max")),
          if (o.has("nulls")) o.get("nulls").asLong() else 0L)) }
      b.result()
    }
    val dv = if (!a.has("dv")) None else {
      val d = a.get("dv")
      Some(DvDesc(d.get("path").asText(), d.get("rows").asLong()))
    }
    AddFile(a.get("path").asText(), a.get("rows").asLong(), bytes, parts, stats,
      dataChange = !a.has("dataChange") || a.get("dataChange").asBoolean(),
      dv = dv)
  }

  private def removeLine(path: String) = obj("remove")(_.put("path", path))
  private def metaLine(schemaJson: String, partitionBy: Seq[String] = Nil,
      changeFeed: Boolean = false,
      constraints: Option[Map[String, String]] = None) =
    obj("meta") { n =>
      n.put("schema", schemaJson)
      if (partitionBy.nonEmpty) {
        val a = n.putArray("partitionBy"); partitionBy.foreach(a.add) }
      if (changeFeed) n.put("changeFeed", true)
      // PRESENCE semantics (the changeFeed pattern): only constraint
      // commits emit the key (full replacement map, possibly empty = all
      // dropped); evolution metas omit it and keep the current set
      constraints.foreach { cs =>
        val o = n.putObject("constraints")
        cs.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      }
    }
  private def txnLine(app: String, batch: Long) =
    obj("txn") { n => n.put("app", app); n.put("batch", batch) }
  private def vacuumLine(horizon: Long) = obj("vacuum")(_.put("horizon", horizon))
  private def protocolLine(features: Set[String],
      writerFeatures: Set[String] = Set.empty) =
    obj("protocol") { n =>
      if (features.nonEmpty) {
        val a = n.putArray("readerFeatures")
        features.toSeq.sorted.foreach(a.add) }
      if (writerFeatures.nonEmpty) {
        val a = n.putArray("writerFeatures")
        writerFeatures.toSeq.sorted.foreach(a.add) }
    }
  /** A change-data sidecar file: its path, rows and byte size, spelled
    * as an add's, so the feed plans its scan with no file-system stat (a
    * line logged before sizes were, with no `bytes`, is stat-ed once).
    */
  private def cdcLine(f: AddFile) = obj("cdc")(fillAdd(_, f))
  private def commitLine(op: String, token: String) =
    obj("commit") { n =>
      n.put("op", op); n.put("writer", token); n.put("ts", clock()) }

  /** The terminal commit marker's wall-time (millis); None on pre-r19
    * commits written before timestamps existed.
    */
  private def commitTs(nodes: Seq[JsonNode]): Option[Long] =
    nodes.lastOption.flatMap(n => Option(n.get("commit")))
      .flatMap(c => Option(c.get("ts")).map(_.asLong()))

  /** Parse one commit file's actions; a file without the terminal commit
    * marker is a torn write and fails NAMED — serving a half-applied
    * transaction would be silent corruption.
    */
  /** JSON object → string map (constraints in replay and checkpoint). */
  private def parseStringMap(n: JsonNode): Map[String, String] = {
    val it = n.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
    b.result()
  }

  private def parseCommit(fs: FileSystem, table: String, v: Long): (Seq[JsonNode], String) = {
    val text = readText(fs, commitPath(table, v))
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val nodes = try lines.map(mapper.readTree) catch {
      case e: Exception => sys.error(
        s"versioned table $table: commit $v is unparseable (${e.getMessage}) — " +
          "torn commit file; manual recovery required")
    }
    val op = nodes.lastOption.flatMap(n => Option(n.get("commit")))
      .map(_.get("op").asText())
      .getOrElse(sys.error(
        s"versioned table $table: commit $v lacks its terminal commit marker — " +
          "torn commit file; manual recovery required"))
    (nodes, op)
  }

  private def applyActions(s: Snapshot, nodes: Seq[JsonNode], v: Long): Snapshot = {
    var schemaJson = s.schemaJson
    var files = s.files
    var txns = s.txns
    var horizon = s.vacuumHorizon
    var partitionBy = s.partitionBy
    var features = s.readerFeatures
    var writerFeatures = s.writerFeatures
    var changeFeed = s.changeFeed
    var constraints = s.constraints
    nodes.foreach { n =>
      if (n.has("meta")) {
        val m = n.get("meta")
        schemaJson = m.get("schema").asText()
        if (m.has("partitionBy")) {
          val it = m.get("partitionBy").elements()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().asText()
          partitionBy = b.result()
        }
        // changeFeed only ever turns ON via meta (absent = keep current:
        // evolution metas re-emit schema without re-stating properties)
        if (m.has("changeFeed")) changeFeed = m.get("changeFeed").asBoolean()
        if (m.has("constraints"))
          constraints = parseStringMap(m.get("constraints"))
      }
      else if (n.has("add")) {
        files = files :+ parseAdd(n.get("add"))
      } else if (n.has("remove")) {
        val path = n.get("remove").get("path").asText()
        files = files.filterNot(_.path == path)
      } else if (n.has("txn")) {
        val t = n.get("txn")
        val app = t.get("app").asText()
        val batch = t.get("batch").asLong()
        txns = txns.updated(app, math.max(batch, txns.getOrElse(app, Long.MinValue)))
      } else if (n.has("protocol")) {
        val p = n.get("protocol")
        if (p.has("readerFeatures")) {
          val it = p.get("readerFeatures").elements()
          while (it.hasNext) features += it.next().asText()
        }
        if (p.has("writerFeatures")) {
          val it = p.get("writerFeatures").elements()
          while (it.hasNext) writerFeatures += it.next().asText()
        }
      } else if (n.has("vacuum"))
        // MAX, not last-writer-wins: two concurrent vacuums with different
        // retention both commit; the larger horizon already DELETED files,
        // so letting the smaller one regress the record would re-open
        // time travel onto missing data
        horizon = math.max(horizon, n.get("vacuum").get("horizon").asLong())
    }
    // running-max commit wall-time (i31/A4): propagated KNOWN (Some) only
    // while the whole replayed prefix is — a pre-r20 checkpoint without
    // the field poisons it to None, so timestamp resolution never trusts
    // an understated bound (unstamped commits fold in as time-zero, the
    // versionAtTimestamp monotonization)
    val maxTs = s.maxCommitTs.map(m =>
      math.max(m, commitTs(nodes).getOrElse(0L)))
    Snapshot(v, schemaJson, files, txns, horizon, partitionBy, features,
      changeFeed, constraints, maxTs, writerFeatures)
  }

  /** The checkpoint parquet schema (r20): one header row with the
    * table-level state, then one row per live file whose `add` column is
    * the SAME add-action JSON the commit lines use — one encoding for
    * adds everywhere (parseAdd reads both), and the parse cost is
    * row-streamed (Jackson on one small string per file) instead of one
    * monolithic tree, which at 10⁵–10⁶ files would dominate snapshot
    * construction (the public Delta protocol made the same JSON→parquet
    * move for the same reason).
    */
  private val CheckpointSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message graft_checkpoint {
        |  optional int64 version;
        |  optional binary schema (STRING);
        |  optional int64 horizon;
        |  optional binary partitionBy (STRING);
        |  optional binary readerFeatures (STRING);
        |  optional binary writerFeatures (STRING);
        |  optional boolean changeFeed;
        |  optional binary constraints (STRING);
        |  optional binary txns (STRING);
        |  optional int64 maxTs;
        |  optional binary add (STRING);
        |}""".stripMargin)

  private[sources] def writeCheckpoint(fs: FileSystem, table: String, s: Snapshot): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    // checkpoints are derived state: last-writer-wins is safe (every
    // writer of version V derives the identical snapshot) — but content
    // must appear ATOMICALLY (temp + rename; a reader listing the log
    // mid-write must never parse a half-written checkpoint). On a
    // no-overwrite filesystem the delete+rename leaves a window with no
    // checkpoint at V, which readers handle by design (they fall back to
    // an earlier checkpoint or full replay).
    val dst = checkpointParquetPath(table, s.version)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val conf = fs.getConf
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(CheckpointSchema)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val gf = new SimpleGroupFactory(CheckpointSchema)
      val header = gf.newGroup()
      header.add("version", s.version)
      header.add("schema", s.schemaJson)
      header.add("horizon", s.vacuumHorizon)
      if (s.partitionBy.nonEmpty) {
        val a = mapper.createArrayNode(); s.partitionBy.foreach(a.add)
        header.add("partitionBy", mapper.writeValueAsString(a))
      }
      if (s.readerFeatures.nonEmpty) {
        val a = mapper.createArrayNode()
        s.readerFeatures.toSeq.sorted.foreach(a.add)
        header.add("readerFeatures", mapper.writeValueAsString(a))
      }
      if (s.changeFeed) header.add("changeFeed", true)
      if (s.constraints.nonEmpty) {
        val o = mapper.createObjectNode()
        s.constraints.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
        header.add("constraints", mapper.writeValueAsString(o))
      }
      if (s.txns.nonEmpty) {
        val o = mapper.createObjectNode()
        s.txns.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
        header.add("txns", mapper.writeValueAsString(o))
      }
      if (s.writerFeatures.nonEmpty) {
        val a = mapper.createArrayNode()
        s.writerFeatures.toSeq.sorted.foreach(a.add)
        header.add("writerFeatures", mapper.writeValueAsString(a))
      }
      // the running-max commit wall-time (A4): recorded only when KNOWN
      // for the whole prefix, so versionAtTimestamp can start its walk
      // here instead of at version 0
      s.maxCommitTs.foreach(header.add("maxTs", _))
      writer.write(header)
      // checkpoint file rows carry the FULL add payload (bytes,
      // partitions, stats, dv) — a replay bounded by the checkpoint must
      // prune exactly as well as one from the raw commits
      s.files.foreach { f =>
        val g = gf.newGroup()
        g.add("add", addLine(f))
        writer.write(g)
      }
    } finally writer.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
  }

  /** [[readCheckpoint]] tolerating the no-overwrite refresh window (the
    * checkpoint is briefly absent between delete and rename) AND any
    * decode failure: checkpoints are DERIVED state, so None — "use an
    * older checkpoint or replay the raw commits" — is always correct and
    * self-healing, where surfacing a corrupt-checkpoint crash would brick
    * reads the commit log can still serve. NonFatal, not just
    * IOException: parquet decode errors are RuntimeExceptions.
    */
  private def readCheckpointOpt(fs: FileSystem, table: String, v: Long): Option[Snapshot] =
    try Some(readCheckpoint(fs, table, v))
    catch { case scala.util.control.NonFatal(_) => None }

  /** HEADER-ONLY maxTs probe for [[versionAtTimestamp]]'s binary search:
    * reads the first (header) row and stops — each probe costs the first
    * page of each column chunk, never the 10⁵ add rows a full
    * [[readCheckpoint]] would stream and discard. None = a checkpoint
    * without the field, or unreadable (refresh window) — never trusted.
    */
  private def checkpointMaxTs(fs: FileSystem, table: String, v: Long): Option[Long] =
    try {
      if (!fs.exists(checkpointParquetPath(table, v))) None
      else {
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            checkpointParquetPath(table, v))
          .withConf(fs.getConf).build()
        try {
          val header = reader.read()
          if (header == null || header.getFieldRepetitionCount("maxTs") == 0) None
          else Some(header.getLong("maxTs", 0))
        } finally reader.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private[sources] def readCheckpoint(fs: FileSystem, table: String, v: Long): Snapshot = {
    import org.apache.parquet.example.data.Group
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        checkpointParquetPath(table, v))
      .withConf(fs.getConf).build()
    try {
      def has(g: Group, f: String) = g.getFieldRepetitionCount(f) > 0
      val header = reader.read()
      require(header != null && has(header, "version"),
        s"versioned table $table: checkpoint $v has no header row — " +
          "corrupt checkpoint; delete it to fall back to log replay")
      val partitionBy =
        if (!has(header, "partitionBy")) Nil
        else {
          val it = mapper.readTree(header.getString("partitionBy", 0)).elements()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().asText()
          b.result()
        }
      val features =
        if (!has(header, "readerFeatures")) Set.empty[String]
        else {
          val it = mapper.readTree(header.getString("readerFeatures", 0)).elements()
          val b = Set.newBuilder[String]
          while (it.hasNext) b += it.next().asText()
          b.result()
        }
      val wFeatures =
        if (!has(header, "writerFeatures")) Set.empty[String]
        else {
          val it = mapper.readTree(header.getString("writerFeatures", 0)).elements()
          val b = Set.newBuilder[String]
          while (it.hasNext) b += it.next().asText()
          b.result()
        }
      val constraints =
        if (!has(header, "constraints")) Map.empty[String, String]
        else parseStringMap(mapper.readTree(header.getString("constraints", 0)))
      val txns =
        if (!has(header, "txns")) Map.empty[String, Long]
        else {
          val it = mapper.readTree(header.getString("txns", 0)).fields()
          val b = Map.newBuilder[String, Long]
          while (it.hasNext) { val e = it.next()
            b += (e.getKey -> e.getValue.asLong()) }
          b.result()
        }
      val files = Seq.newBuilder[AddFile]
      var g = reader.read()
      while (g != null) {
        if (has(g, "add"))
          files += parseAdd(mapper.readTree(g.getString("add", 0)).get("add"))
        g = reader.read()
      }
      Snapshot(header.getLong("version", 0), header.getString("schema", 0),
        files.result(), txns, header.getLong("horizon", 0), partitionBy,
        features,
        changeFeed = has(header, "changeFeed") && header.getBoolean("changeFeed", 0),
        constraints = constraints,
        maxCommitTs =
          if (has(header, "maxTs")) Some(header.getLong("maxTs", 0)) else None,
        writerFeatures = wFeatures)
    } finally reader.close()
  }

  /** Replay the log to `version` (latest when negative). Starts from the
    * newest checkpoint ≤ target so planning cost is bounded by
    * [[checkpointInterval]], not table age.
    */
  def snapshotAt(spark: SparkSession, table: String, version: Long = -1L): Snapshot = {
    val fs = fsOf(spark, table)
    val (commits, checkpoints) = listLog(fs, table)
    requireTable(commits.nonEmpty, table)
    val target = if (version < 0) commits.last else version
    require(commits.contains(target),
      s"versioned table $table has no version $target (versions ${commits.head}..${commits.last})")
    // newest parseable checkpoint ≤ target; an unreadable one (a reader
    // racing the delete+rename refresh window on a no-overwrite
    // filesystem) falls back to the next-older checkpoint, then to full
    // replay — never a crash on the transient case
    var s = checkpoints.filter(_ <= target).sorted.reverseIterator
      .map(v => readCheckpointOpt(fs, table, v))
      .collectFirst { case Some(snap) => snap }
      .getOrElse(Genesis)
    // the fallback must not SILENTLY serve a partial table: replay is only
    // valid when every commit in (base, target] survives (pre-checkpoint
    // commits may legitimately be pruned — but then a readable checkpoint
    // must cover them, and losing both is a named failure, not quiet loss)
    val commitSet = commits.toSet
    val missing = ((s.version + 1) to target).filterNot(commitSet.contains)
    require(missing.isEmpty,
      s"versioned table $table: cannot reconstruct version $target — commits " +
        s"${missing.take(5).mkString(", ")}${if (missing.size > 5) ", …" else ""} " +
        "are pruned and no readable checkpoint covers them")
    commits.filter(v => v > s.version && v <= target).foreach { v =>
      val (nodes, _) = parseCommit(fs, table, v)
      s = applyActions(s, nodes, v)
    }
    // the binding horizon is the CURRENT one — a vacuum logged AFTER the
    // target version has already deleted the target's unreferenced files,
    // and replay-to-target cannot see it. Horizons only grow and every
    // checkpoint carries the horizon as of its version, so only the tail
    // commits past the LATEST checkpoint need parsing — time travel stays
    // bounded by checkpointInterval, not table age.
    val horizon = if (target == commits.last) s.vacuumHorizon else {
      val cpLater = checkpoints.filter(_ > target).lastOption
        .flatMap(v => readCheckpointOpt(fs, table, v).map(c => (v, c.vacuumHorizon)))
      var h = math.max(s.vacuumHorizon, cpLater.map(_._2).getOrElse(0L))
      val from = math.max(target, cpLater.map(_._1).getOrElse(Long.MinValue))
      commits.filter(_ > from).foreach { v =>
        parseCommit(fs, table, v)._1.foreach { n =>
          if (n.has("vacuum"))
            h = math.max(h, n.get("vacuum").get("horizon").asLong())
        }
      }
      h
    }
    require(target >= horizon,
      s"versioned table $table: version $target was vacuumed (horizon $horizon) — " +
        "its data files are gone; time travel only reaches retained versions")
    // the protocol guard: table state this reader would silently mis-serve
    // (a DV it would ignore, resurrecting deleted rows) fails NAMED instead.
    // Checked per-TARGET: a feature introduced at version 10 never blocks
    // time travel to version 5.
    val unsupported = s.readerFeatures -- SupportedReaderFeatures
    require(unsupported.isEmpty,
      s"versioned table $table requires reader features " +
        s"${unsupported.toSeq.sorted.mkString(", ")} this build does not " +
        s"support (supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}) — " +
        "refusing to serve rows that could be silently wrong; upgrade the reader")
    s
  }

  // ------------------------------------------------ DV-aware scans (i30)

  /** Per-row metadata columns the DML discovery scans ride: the logged
    * (table-relative) file path, which [[scanFiles]] serves as each file's
    * one partition value, and the parquet row index (`_metadata.row_index`,
    * the file-local physical ordinal — exactly a deletion vector's
    * coordinate system).
    */
  private[graft] val MetaRelCol = "__gf_rel"
  private[graft] val MetaPosCol = "__gf_pos"

  /** The file index of a scan over logged data files: Spark's file source
    * plans from the log's own list and never lists a path. Each status is
    * the qualified path with the logged size; a pre-i25 add (logged with
    * 0 bytes) is stat-ed once, or it would plan as a zero-length split that
    * reads no rows. `listFiles` keeps the files whose stats cannot exclude
    * the pushed data filters ([[mayHold]]). With `keepMeta` each file is
    * its own partition, valued by its logged path ([[MetaRelCol]]), and
    * the partition filters (which Spark does not re-apply above the scan)
    * are evaluated here. Equal file lists make equal indexes, so two reads
    * of one state share caches and reused exchanges.
    */
  private final case class LoggedFiles(table: String, files: Seq[AddFile],
      keepMeta: Boolean)(spark: SparkSession) extends FileIndex {
    private val fs = fsOf(spark, table)
    private val status: Map[String, FileStatus] = files.map { f =>
      val p = fs.makeQualified(new Path(s"$table/${f.path}"))
      f.path -> (if (f.bytes > 0) new FileStatus(f.bytes, false, 0, 0, 0, p)
                 else fs.getFileStatus(p))
    }.toMap

    override def rootPaths: Seq[Path] = Seq(fs.makeQualified(new Path(table)))
    override def partitionSchema: StructType =
      if (keepMeta) new StructType().add(MetaRelCol, StringType) else new StructType()
    override def inputFiles: Array[String] = files.map(f => status(f.path).getPath.toString).toArray
    override def sizeInBytes: Long = status.values.map(_.getLen).sum
    override def refresh(): Unit = ()

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val kept = mayHold(files, dataFilters).map(f => f -> FileStatusWithMetadata(status(f.path)))
      if (!keepMeta) Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2)))
      else {
        val onPath = Predicate.createInterpreted(partitionFilters.reduceOption(And)
          .getOrElse(Literal.TrueLiteral)
          .transform { case _: AttributeReference => BoundReference(0, StringType, nullable = true) })
        kept.map { case (f, st) => PartitionDirectory(InternalRow(UTF8String.fromString(f.path)), Seq(st)) }
          .filter(d => onPath.eval(d.values))
      }
    }
  }

  /** Scan `files` honoring deletion vectors: files carrying a `dv`
    * anti-join their (file, pos) sidecar pairs on the parquet row index
    * (declarative — Catalyst broadcasts the pair set when small, shuffles
    * when not); clean files read plain, no metadata overhead. With
    * `keepMeta` every row keeps [[MetaRelCol]]/[[MetaPosCol]]. Pair dirs
    * are unioned across the scanned files: per-file deleted-position sets
    * only GROW (a re-delete unions the old pairs into the new dir), so a
    * pair from any referenced dir is deleted in every state that
    * references it — the union can never over-delete for the files that
    * point at those dirs.
    */
  private[graft] def scanFiles(spark: SparkSession, table: String, files: Seq[AddFile],
      schema: StructType, keepMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (files.isEmpty) {
      val base = emptyFrame(spark, schema)
      return if (!keepMeta) base
      else base.withColumn(MetaRelCol, lit(null).cast("string"))
        .withColumn(MetaPosCol, lit(null).cast("long"))
    }
    def logged(fl: Seq[AddFile], meta: Boolean): DataFrame = {
      val index = LoggedFiles(table, fl, meta)(spark)
      val df = spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
        schema.toNullable, None, new ParquetFileFormat, Map.empty)(spark))
      if (meta) df.withColumn(MetaPosCol, col("_metadata.row_index")) else df
    }
    val (dvFiles, plainFiles) = files.partition(_.dv.isDefined)
    val plainPart = Option.when(plainFiles.nonEmpty)(logged(plainFiles, keepMeta))
    val dvPart = Option.when(dvFiles.nonEmpty) {
      val dirs = dvFiles.flatMap(_.dv).map(_.path).distinct
      val pairs = spark.read.parquet(dirs.map(d => s"$table/$d"): _*)
        .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
      val base = logged(dvFiles, meta = true)
      val survived = base.join(pairs,
        base(MetaRelCol) === pairs("__dv_file") &&
          base(MetaPosCol) === pairs("__dv_pos"), "left_anti")
      if (keepMeta) survived else survived.drop(MetaRelCol, MetaPosCol)
    }
    (plainPart ++ dvPart).reduce(_.unionByName(_))
  }

  private def readFiles(spark: SparkSession, table: String, s: Snapshot): DataFrame =
    scanFiles(spark, table, s.files, s.schema)

  /** The latest snapshot as a DataFrame — the plan reads ONLY files the
    * log references (never a directory listing).
    */
  def read(spark: SparkSession, table: String): DataFrame =
    readFiles(spark, table, snapshotAt(spark, table))

  /** Time travel: the table exactly as of `version`. */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    readFiles(spark, table, snapshotAt(spark, table, version))

  /** The version live at wall-time `tsMillis` (i31): the LAST commit whose
    * terminal marker's timestamp is ≤ t — "the table as of yesterday
    * 09:00", the operational-recovery spelling version numbers can't give.
    * Commits written before timestamps existed (pre-r19 logs) sort as
    * time-zero: they predate every stamped commit by construction (the
    * log is append-only), so a stamped-era timestamp resolves past them
    * correctly. A t before the first commit fails NAMED. Driver-side
    * metadata-rate (one pass over commit markers, same cost class as
    * [[history]]).
    */
  def versionAtTimestamp(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val fs = fsOf(spark, table)
    val (vs, checkpoints) = listLog(fs, table)
    requireTable(vs.nonEmpty, table)
    // MONOTONIZED timestamps (the public Delta discipline): commit wall
    // times come from each WRITER's clock, so a slow-clock writer can
    // stamp version N+1 earlier than version N — resolving against raw
    // stamps would then serve a state that includes changes "from the
    // future". Reading each version's effective time as the running max
    // keeps resolution consistent with commit order: the answer is the
    // last version whose every predecessor (itself included) was stamped
    // at or before t.
    //
    // CHECKPOINT-BOUNDED (A4): checkpoints record the running-max commit
    // time of their whole prefix (`maxTs`), and the running max is
    // monotone in version — binary-search the newest checkpoint with
    // maxTs <= t, whose entire prefix is eligible by construction, and
    // walk only the commits after it: O(log checkpoints) checkpoint reads
    // + checkpointInterval-bounded commit parses, not O(table age).
    // A checkpoint without the field probes as +infinity —
    // never trusted, at worst a longer walk, never a wrong prefix claim.
    val cps = checkpoints.toIndexedSeq
    def maxTsOf(cv: Long): Long =
      checkpointMaxTs(fs, table, cv).getOrElse(Long.MaxValue)
    var lo = 0
    var hi = cps.length - 1
    var base: Option[(Long, Long)] = None // (checkpoint version, its maxTs)
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = maxTsOf(cps(mid))
      if (m <= tsMillis) { base = Some((cps(mid), m)); lo = mid + 1 }
      else hi = mid - 1
    }
    var runningTs = base.map(_._2).getOrElse(0L)
    var last = base.map(_._1).getOrElse(-1L)
    val startAfter = last
    val it = vs.iterator.filter(_ > startAfter)
    var done = false
    while (it.hasNext && !done) {
      val v = it.next()
      runningTs = math.max(runningTs,
        commitTs(parseCommit(fs, table, v)._1).getOrElse(0L))
      if (runningTs <= tsMillis) last = v else done = true
    }
    require(last >= 0,
      s"versioned table $table: no commit at or before timestamp $tsMillis — " +
        s"the table's first commit is later; time travel cannot reach before creation")
    last
  }

  /** Time travel by wall-time: the table exactly as it stood at
    * `tsMillis`. Fails named below the vacuum horizon, like [[readVersion]].
    */
  def readTimestamp(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    readVersion(spark, table, versionAtTimestamp(spark, table, tsMillis))

  /** RESTORE (i31): commit the file-set of `toVersion` as a NEW version —
    * recovery from a bad batch with history PRESERVED (the bad commits
    * stay readable; nothing is deleted, so a restore is itself
    * reversible and vacuum-safe: the restored files are re-referenced at
    * the new head and every retained version keeps its own). The diff is
    * computed inside the commit loop against the winning snapshot, so a
    * concurrent commit simply loses to the restore by commit order —
    * restore is "make the table this state", [[overwrite]]'s concurrency
    * class, not merge's. Restoring below the vacuum horizon fails named
    * (those files are gone). Returns the new version.
    */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val target = snapshotAt(spark, table, toVersion)
    commitLoop(spark, table, "restore") { snap =>
      // diff on the FULL add state, not the path: a deletion vector swap
      // keeps the path but changes which rows the file serves — restoring
      // across it must remove the DV'd add and re-add the target's state
      val targetByPath = target.files.map(f => f.path -> f).toMap
      val liveByPath = snap.files.map(f => f.path -> f).toMap
      val removes = snap.files
        .filter(f => !targetByPath.get(f.path).contains(f))
        .map(f => removeLine(f.path))
      val adds = target.files
        .filter(f => !liveByPath.get(f.path).contains(f))
        .map(addLine)
      // restore restores SCHEMA and CONSTRAINTS too (an evolved-then-
      // restored table must serve the old shape, and a constraint on an
      // evolved-away column would otherwise brick every later write
      // with an unresolvable-column error); changeFeed enablement stays
      // CURRENT — it is operational state, not data state
      val meta =
        if (snap.schemaJson == target.schemaJson &&
            snap.partitionBy == target.partitionBy &&
            snap.constraints == target.constraints) Nil
        else Seq(metaLine(target.schemaJson, target.partitionBy,
          snap.changeFeed, Some(target.constraints)))
      // restoring to the CURRENT state is a NO-OP — committing an empty
      // 'restore' version would permanently break every append-face
      // consumer while changing nothing (the overwritePartitions
      // empty-frame discipline; an idempotent recovery-script re-run
      // must be free)
      if (meta.isEmpty && removes.isEmpty && adds.isEmpty) None
      else Some(meta ++ removes ++ adds)
    }.getOrElse(latestVersion(spark, table))
  }

  // ------------------------------------------------- predicate pruning (i25)

  /** Snapshot read planned from the log's OWN per-file stats: files whose
    * [min,max]/null-count provably exclude `pred` never enter the plan —
    * at 100 TB the difference between reading one partition and all of it
    * (and because partitioned writes produce partition-pure files,
    * partition pruning IS stats pruning here, no separate code path). The
    * exact `pred` is re-applied on the survivors, so pruning power never
    * affects RESULTS, only file count. The stats can never go stale: they
    * travel WITH the add action.
    *
    * Prunable conjuncts: =, <, <=, >, >=, IN, IS NULL, IS NOT NULL over a
    * top-level column vs a literal. Anything else is kept exact but
    * contributes no pruning. Strings compare in unsigned UTF-8 order
    * (parquet's binary stats order); long/double carriers cross-compare.
    *
    * `read(…).filter(pred)` skips the same files when the scan runs (its
    * pushed data filters reach [[mayHold]]); readWhere prunes when the
    * frame is built, so the frame's `inputFiles` are the survivors.
    */
  def readWhere(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column, version: Long = -1L): DataFrame = {
    val snap = snapshotAt(spark, table, version)
    scanFiles(spark, table, pruneByPred(spark, snap, pred), snap.schema).filter(pred)
  }

  /** The files [[readWhere]] would plan — the spec/observability hook. */
  private[graft] def survivingFiles(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column, version: Long = -1L): Seq[AddFile] =
    { val s = snapshotAt(spark, table, version); pruneByPred(spark, s, pred) }

  private[sources] def pruneByPred(spark: SparkSession, snap: Snapshot,
      pred: org.apache.spark.sql.Column): Seq[AddFile] = {
    // Resolve the Column against the table schema through the ANALYZED
    // (not optimized — PropagateEmptyRelation would eat the Filter) plan
    // of a zero-row frame: public API only, and the condition comes back
    // with typed AttributeReferences and folded Literals.
    val probe = emptyFrame(spark, snap.schema).filter(pred)
    probe.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.fold(snap.files)(cond => mayHold(snap.files, splitConjuncts(cond)))
  }

  /** The files whose stats cannot rule out a row matching every one of
    * the resolved `conjuncts` — the one pruner behind [[pruneByPred]], a
    * scan's pushed data filters ([[LoggedFiles]]) and the `graft-versioned`
    * batch relation's filters. A conjunct it cannot read prunes nothing.
    */
  private[graft] def mayHold(files: Seq[AddFile], conjuncts: Seq[Expression]): Seq[AddFile] = {
    val pruners = conjuncts.flatMap(translate(_))
    if (pruners.isEmpty) files else files.filter(f => pruners.forall(mayMatch(f, _)))
  }

  /** Prunable conjuncts of `cond` when it references ONLY columns of
    * `schema` (`alias.col` or bare `col`, decided by name before anything
    * is analyzed); Nil when the condition references anything else (the
    * other merge side, a missing column) or carries no prunable conjunct
    * — the caller cannot bound its scan then. The stats-pruning half of
    * MERGE's conditional `WHEN NOT MATCHED BY SOURCE` (r22): a target-only
    * conjunct like a partition bound means unmatched rows OUTSIDE it can
    * never act, so files failing every clause's pruners need not be
    * scanned at all.
    */
  private[sources] def targetOnlyPruners(spark: SparkSession,
      schema: StructType, alias: String,
      cond: org.apache.spark.sql.Column): Seq[Pruner] = {
    val same = spark.sessionState.conf.resolver
    // `alias.col` or a bare `col` (a longer name reads into a struct column)
    def isTargetColumn(parts: Seq[String]): Boolean = {
      val name = if (parts.length > 1 && same(parts.head, alias)) parts(1) else parts.head
      schema.fieldNames.exists(same(_, name))
    }
    val targetOnly = StreamShim.expression(spark, cond).collect {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute => a
    }.forall {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        isTargetColumn(u.nameParts)
      case _ => false // bound to another plan's output
    }
    if (!targetOnly) Nil
    else emptyFrame(spark, schema).alias(alias).filter(cond)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.fold(Seq.empty[Pruner])(e => splitConjuncts(e).flatMap(translate(_)))
  }

  /** One prunable conjunct: op ∈ eq/lt/le/gt/ge/in/isnull/isnotnull;
    * `values` are normalized literal carriers (Long/Double/String).
    */
  private[sources] final case class Pruner(name: String, op: String, values: Seq[Any])

  private def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression
  ): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def attrName(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = e match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      if u.nameParts.length == 1 => Some(u.nameParts.head)
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
    case _ => None
  }

  /** Constant → stats carrier; None = unfoldable or a type we don't
    * prune on (safe). Accepts any FOLDABLE deterministic expression, not
    * just bare Literal: the analyzer wraps the most common spellings in
    * casts (`col("id") === 25` against a Long column analyzes to
    * `id = cast(25 as bigint)`; a date-string comparison gets a Cast
    * too), and matching only Literal would silently disable pruning for
    * exactly those — results stay right via the re-applied filter, so
    * nothing would ever flag the 10⁶-file scans.
    */
  private def litValue(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Any] = {
    import org.apache.spark.sql.types._
    if (!e.foldable || !e.deterministic) return None
    val (v, dt) =
      try (e.eval(org.apache.spark.sql.catalyst.InternalRow.empty), e.dataType)
      catch { case scala.util.control.NonFatal(_) => return None }
    if (v == null) return None
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(v.asInstanceOf[Number].longValue())
      case DateType => Some(v.asInstanceOf[Number].longValue())      // days
      case TimestampType | TimestampNTZType =>
        Some(v.asInstanceOf[Number].longValue())                     // micros
      case FloatType | DoubleType => Some(v.asInstanceOf[Number].doubleValue())
      case StringType => Some(v.toString)
      case _ => None
    }
  }

  private def translate(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Pruner] = {
    import org.apache.spark.sql.catalyst.expressions._
    def bin(l: Expression, r: Expression, op: String, flipped: String): Option[Pruner] =
      (attrName(l), litValue(r), attrName(r), litValue(l)) match {
        case (Some(n), Some(v), _, _) => Some(Pruner(n, op, Seq(v)))
        case (_, _, Some(n), Some(v)) => Some(Pruner(n, flipped, Seq(v)))
        case _ => None
      }
    e match {
      case EqualTo(l, r) => bin(l, r, "eq", "eq")
      case GreaterThan(l, r) => bin(l, r, "gt", "lt")
      case GreaterThanOrEqual(l, r) => bin(l, r, "ge", "le")
      case LessThan(l, r) => bin(l, r, "lt", "gt")
      case LessThanOrEqual(l, r) => bin(l, r, "le", "ge")
      case IsNull(a) => attrName(a).map(Pruner(_, "isnull", Nil))
      case IsNotNull(a) => attrName(a).map(Pruner(_, "isnotnull", Nil))
      case In(a, vs) =>
        val lits = vs.map(litValue)
        attrName(a).filter(_ => lits.nonEmpty && lits.forall(_.isDefined))
          .map(Pruner(_, "in", lits.map(_.get)))
      case _ => None
    }
  }

  /** Can `f` possibly hold a row matching `c`? Missing stats → yes (never
    * mis-prune); incomparable carriers (string literal vs numeric stats)
    * → yes. An all-null column chunk (min/max None, nulls ≥ rows>0)
    * excludes every comparison and satisfies only IS NULL.
    */
  private[sources] def mayMatch(f: AddFile, c: Pruner): Boolean = {
    if (f.rows == 0) return false
    f.stats.get(c.name) match {
      case None => true
      case Some(cs) =>
        def cmpSafe(a: Any, b: Any): Option[Int] =
          try Some(compareStatVals(a, b)) catch { case _: RuntimeException => None }
        def against(v: Any, op: String): Boolean = (cs.min, cs.max) match {
          case (None, None) => false // all-null: no non-null value matches
          case (Some(mn), Some(mx)) =>
            (cmpSafe(mn, v), cmpSafe(mx, v)) match {
              case (Some(cMin), Some(cMax)) => op match {
                case "eq" => cMin <= 0 && cMax >= 0
                case "lt" => cMin < 0
                case "le" => cMin <= 0
                case "gt" => cMax > 0
                case "ge" => cMax >= 0
                case _ => true
              }
              case _ => true // incomparable: keep
            }
          case _ => true
        }
        c.op match {
          case "isnull" => cs.nulls > 0
          case "isnotnull" => cs.nulls < f.rows
          case "in" => c.values.exists(against(_, "eq"))
          case op => c.values.forall(against(_, op))
        }
    }
  }

  // -------------------------------------------------------------- writes

  /** Write `df`'s rows as immutable parquet under `data/<uuid>/` and
    * return their log entries. Data files are INVISIBLE until a commit
    * references them — a crash here leaves garbage vacuum sweeps, never a
    * half-applied table.
    *
    * Partitioned tables (i26) write through a DUPLICATED `__p_<col>`
    * column so the hive layout gets partition-pure files while the data
    * files keep the real column (a per-file re-read never loses it, where
    * a plain hive layout keeps the value only in the path); partition
    * values land in the `add` action, parsed back from
    * the `__p_<col>=v` path segments.
    *
    * Every add carries byte size and per-column footer stats (i25) — one
    * footer open per file, the metadata the read path touches anyway,
    * never a second pass over the data.
    */
  private[sources] def writeData(df: DataFrame, table: String, schema: StructType,
      partitionBy: Seq[String] = Nil): Seq[AddFile] = {
    val aligned = align(df, schema)
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val rel = s"$DataDirName/files-$uuid"
    if (partitionBy.isEmpty) aligned.write.parquet(s"$table/$rel")
    else {
      val dup = partitionBy.foldLeft(aligned)((d, c) =>
        d.withColumn(s"__p_$c", org.apache.spark.sql.functions.col(c)))
      dup.write.partitionBy(partitionBy.map(c => s"__p_$c"): _*)
        .parquet(s"$table/$rel")
    }
    val fs = fsOf(df.sparkSession, table)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val root = new Path(s"$table/$rel")
    val files = {
      val it = fs.listFiles(root, true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) { val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f }
      b.result().sortBy(_.getPath.toString)
    }
    files.map { p =>
      val relPath = relativize(fs, table, p.getPath)
      val parts = parsePartitionValues(relPath, partitionBy)
      val (rows, stats) = footerStats(p.getPath, conf, schema)
      AddFile(relPath, rows, p.getLen, parts, stats)
    }
  }

  /** Hive path-segment partition values for `partitionBy`, unescaped
    * (`%XX` decodes, `__HIVE_DEFAULT_PARTITION__` → null) so the stored
    * value is the DATA value's spelling, stable across writers.
    */
  private def parsePartitionValues(relPath: String,
      partitionBy: Seq[String]): Map[String, String] = {
    if (partitionBy.isEmpty) return Map.empty
    val segs = relPath.split('/').filter(_.contains("=")).map { s =>
      val i = s.indexOf('=')
      (s.substring(0, i), s.substring(i + 1))
    }.toMap
    partitionBy.map { c =>
      val raw = segs.getOrElse(s"__p_$c", sys.error(
        s"partitioned write produced a file without its __p_$c segment: $relPath"))
      c -> unescapeHive(raw)
    }.toMap
  }

  private def unescapeHive(v: String): String =
    if (v == "__HIVE_DEFAULT_PARTITION__") null
    else {
      val sb = new StringBuilder(v.length)
      var i = 0
      while (i < v.length) {
        val ch = v.charAt(i)
        if (ch == '%' && i + 2 < v.length) {
          sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(ch); i += 1 }
      }
      sb.toString
    }

  /** (row count, per-column min/max/nulls) from one parquet footer.
    * Columns are usable only when EVERY row group carries valid stats for
    * them; values normalize to Long (integrals, date days, timestamp
    * micros), Double, or String — unsupported physical/logical types are
    * simply absent (never pruned, always correct).
    */
  private def footerStats(p: Path, conf: org.apache.hadoop.conf.Configuration,
      schema: StructType): (Long, Map[String, ColStats]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      val want = schema.fields.map(_.name).toSet
      val acc = scala.collection.mutable.Map.empty[String, ColStats]
      val dead = scala.collection.mutable.Set.empty[String]
      import scala.jdk.CollectionConverters._
      r.getFooter.getBlocks.asScala.foreach { block =>
        val blockRows = block.getRowCount
        block.getColumns.asScala.foreach { cc =>
          val path = cc.getPath.toArray
          if (path.length == 1 && want(path(0)) && !dead(path(0))) {
            val name = path(0)
            val st = cc.getStatistics
            val pt = cc.getPrimitiveType
            def norm(v: AnyRef): Option[Any] = pt.getPrimitiveTypeName match {
              case INT32 => Some(v.asInstanceOf[java.lang.Integer].longValue())
              case INT64 => Some(v.asInstanceOf[java.lang.Long].longValue())
              case FLOAT => Some(v.asInstanceOf[java.lang.Float].doubleValue())
              case DOUBLE => Some(v.asInstanceOf[java.lang.Double].doubleValue())
              case BINARY
                if pt.getLogicalTypeAnnotation.isInstanceOf[
                  org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
              case _ => None
            }
            if (st == null || st.isEmpty) dead += name
            else {
              val chunk =
                if (!st.hasNonNullValue) {
                  // hasNonNullValue=false is AMBIGUOUS: a genuinely all-null
                  // chunk, or min/max OMITTED by the writer (parquet-mr
                  // drops stats past MAX_STATS_SIZE for wide binary values)
                  // — only the former may prune; conflating them made
                  // readWhere/merge/delete skip files that HOLD matches
                  if (st.isNumNullsSet && st.getNumNulls >= blockRows)
                    Some(ColStats(None, None, st.getNumNulls))
                  else None // omitted stats: column unusable for this file
                }
                // an UNSET null count (getNumNulls == -1) must not coerce to
                // 0: mayMatch's isnull branch prunes on nulls==0, and a file
                // whose null count is merely UNKNOWN may hold nulls — mark
                // the column dead instead (unknown = never prune, the same
                // contract the rest of the stats path keeps). Unreachable
                // with parquet-mr (always sets num_nulls); defensive.
                else if (!st.isNumNullsSet) None
                else (norm(st.genericGetMin.asInstanceOf[AnyRef]),
                      norm(st.genericGetMax.asInstanceOf[AnyRef])) match {
                  case (Some(mn), Some(mx)) =>
                    Some(ColStats(Some(mn), Some(mx), st.getNumNulls))
                  case _ => None // unsupported type
                }
              chunk match {
                case None => dead += name
                case Some(cs) =>
                  val merged = acc.get(name) match {
                    case None => cs
                    case Some(prev) => ColStats(
                      mergeBound(prev.min, cs.min, takeMax = false),
                      mergeBound(prev.max, cs.max, takeMax = true),
                      prev.nulls + cs.nulls)
                  }
                  acc.update(name, merged)
              }
            }
          }
        }
      }
      dead.foreach(acc.remove)
      (rows, acc.toMap)
    } finally r.close()
  }

  /** Unsigned-UTF-8 string order — parquet's own BINARY stats ordering;
    * using Java's UTF-16 compareTo here would mis-prune on supplementary
    * characters.
    */
  private[sources] def compareStatVals(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(xb.length, yb.length)
      while (i < n) {
        val c = java.lang.Integer.compare(xb(i) & 0xff, yb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(xb.length, yb.length)
    case _ =>
      // mixed numeric carriers (long stats vs double literal and back)
      java.lang.Double.compare(
        a match { case l: Long => l.toDouble; case d: Double => d
                  case o => sys.error(s"non-comparable stat value $o") },
        b match { case l: Long => l.toDouble; case d: Double => d
                  case o => sys.error(s"non-comparable stat value $o") })
  }

  /** Driver-side value → stats carrier (Long/Double/String, date days,
    * timestamp micros) — the SAME normalization [[writeData]]'s footer
    * stats use, shared by both merges' stage-1 key-range pruning. ONE
    * definition: a carrier type added here prunes identically everywhere.
    */
  private[sources] def statCarrier(v: Any): Option[Any] = v match {
    case null => None
    case x: java.lang.Integer => Some(x.longValue())
    case x: java.lang.Long => Some(x.longValue())
    case x: java.lang.Short => Some(x.longValue())
    case x: java.lang.Byte => Some(x.longValue())
    case x: java.lang.Float => Some(x.doubleValue())
    case x: java.lang.Double => Some(x.doubleValue())
    case x: String => Some(x)
    case x: java.sql.Date => Some(x.toLocalDate.toEpochDay)
    case x: java.time.LocalDate => Some(x.toEpochDay)
    case x: java.sql.Timestamp =>
      Some(x.getTime * 1000L + (x.getNanos / 1000) % 1000)
    case x: java.time.Instant =>
      Some(x.getEpochSecond * 1000000L + x.getNano / 1000)
    case _ => None
  }

  private def mergeBound(a: Option[Any], b: Option[Any], takeMax: Boolean): Option[Any] =
    (a, b) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(x), Some(y)) =>
        val c = compareStatVals(x, y)
        Some(if ((c >= 0) == takeMax) x else y)
    }

  /** Schema enforcement (the Delta contract the reference relies on —
    * gold notebooks never re-declare their table): same column SET, same
    * types up to nullability ([[sameType]]), any order; a drifted frame
    * fails NAMED, never silently casts.
    */
  private[sources] def align(df: DataFrame, schema: StructType): DataFrame = {
    val want = schema.fields.map(f => f.name -> f.dataType).toMap
    val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
    require(got.keySet == want.keySet,
      s"schema drift: table columns ${want.keySet.toSeq.sorted.mkString(", ")} vs " +
        s"frame columns ${got.keySet.toSeq.sorted.mkString(", ")} — missing " +
        s"${(want.keySet -- got.keySet).toSeq.sorted.mkString(", ")}; unexpected " +
        s"${(got.keySet -- want.keySet).toSeq.sorted.mkString(", ")}")
    val drifted = want.keys.filter(k => !sameType(got(k), want(k))).toSeq.sorted
    require(drifted.isEmpty,
      s"schema drift: columns ${drifted.mkString(", ")} changed type " +
        s"(${drifted.map(k => s"$k: ${want(k).simpleString} -> ${got(k).simpleString}").mkString("; ")})")
    df.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
  }

  /** `a` and `b` are the same type up to nullability, nested levels
    * included: every read of a table comes back nullable, so a table
    * created from non-null columns (a Scala `Seq[Double]`) must still take
    * a rewrite of its own rows.
    */
  private[graft] def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(x, _), ArrayType(y, _)) => sameType(x, y)
    case (MapType(xk, xv, _), MapType(yk, yv, _)) => sameType(xk, yk) && sameType(xv, yv)
    case (StructType(xs), StructType(ys)) => xs.length == ys.length &&
      xs.zip(ys).forall { case (x, y) => x.name == y.name && sameType(x.dataType, y.dataType) }
    case _ => a == b
  }

  // --------------------------------------------------- orphan discipline

  /** The files a writer materialized for one commit (data files, DV
    * sidecars, CDC sidecars): every write registers its `data/<dir>/` as
    * it happens, and [[commitLoop]] sweeps exactly what was registered
    * when the commit throws or is abandoned. Writers that materialize
    * inside the commit step's first attempt are covered from their first
    * artifact on; sweeping never re-runs a write job.
    */
  private[sources] final class OrphanTracker(spark: SparkSession, table: String) {
    private val dirs = scala.collection.mutable.LinkedHashSet.empty[String]
    def track(adds: Seq[AddFile]): Seq[AddFile] = {
      adds.foreach(a => dirs += a.path.split("/")(1)); adds }
    /** For `data/<dir>`-shaped sidecar roots (DV dirs). */
    def trackDir(rel: String): String = {
      dirs += rel.stripPrefix(s"$DataDirName/"); rel }
    def sweep(): Unit = {
      val fs = fsOf(spark, table)
      dirs.foreach(d => fs.delete(new Path(s"$table/$DataDirName/$d"), true))
    }
  }

  // ---------------------------------------------- CHECK constraints (i33)

  /** Write `df` under `constraints` enforcement (Delta's CHECK
    * constraints, i33): violation counting rides the WRITE ITSELF via the
    * public Observation API — ONE pass, no pre-validation scan — and a
    * violating batch fails NAMED before any commit references its files
    * (tracked in `orphans`, so the commit step sweeps them), so enforcement is transactional
    * by the same invisibility rule every writer relies on. A NULL check
    * result counts as a violation (a CHECK must HOLD, not merely
    * not-fail — the Delta semantics).
    */
  private[sources] def writeDataEnforced(df: DataFrame, table: String, schema: StructType,
      partitionBy: Seq[String], constraints: Map[String, String],
      orphans: OrphanTracker): Seq[AddFile] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when, not}
    if (constraints.isEmpty) return orphans.track(writeData(df, table, schema, partitionBy))
    val names = constraints.keys.toSeq.sorted
    val obs = org.apache.spark.sql.Observation()
    val aggs = names.map(n => sum(
      when(not(coalesce(expr(constraints(n)), lit(false))), 1L).otherwise(0L)).as(n))
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    val adds = orphans.track(writeData(observed, table, schema, partitionBy))
    val row = graft.ops.Observations.of(obs, s"versioned table $table: CHECK constraint counts")
    def violations(n: String): Long =
      row.get(n).flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val violated = names.filter(violations(_) > 0L)
    // the violating batch's files are tracked: the commit step that runs
    // this write sweeps them when the error aborts it
    if (violated.nonEmpty)
      sys.error(s"versioned table $table: write violates CHECK constraint(s) " +
        violated.map(n => s"$n [${constraints(n)}] (${violations(n)} rows)")
          .mkString(", ") + " — nothing was committed")
    adds
  }

  /** ADD CONSTRAINT (i33; Delta's `ALTER TABLE … ADD CONSTRAINT … CHECK`):
    * validates the EXISTING rows first — a table that already violates
    * the check fails named with an example row, never a constraint the
    * data silently breaks — then records the named CHECK in table meta;
    * every subsequent write enforces it transactionally
    * ([[writeDataEnforced]]). NOT NULL is the special case
    * `CHECK (col IS NOT NULL)`. Returns the committed version.
    */
  def addConstraint(spark: SparkSession, table: String, name: String,
      checkSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' must be an identifier")
    commitLoop(spark, table, "constraint") { snap =>
      require(!snap.constraints.contains(name),
        s"versioned table $table already has constraint $name " +
          s"[${snap.constraints(name)}] — drop it first")
      // validate INSIDE the loop against the snapshot the commit will
      // publish over: a concurrent write racing a pre-loop validation
      // could land violating rows under a just-committed constraint
      // (retries are rare; the rescan is the price of the guarantee)
      val bad = scanFiles(spark, table, snap.files, snap.schema)
        .filter(not(coalesce(expr(checkSql), lit(false)))).limit(1).collect()
      require(bad.isEmpty,
        s"versioned table $table: existing data violates CHECK $name " +
          s"[$checkSql] — e.g. ${bad.headOption.map(_.toString).getOrElse("")}; " +
          "clean the data before constraining it")
      Some(
        // writer feature rides the constraining commit: a writer that
        // wouldn't evaluate CHECKs would land silent violations
        (if (snap.writerFeatures.contains("check-constraints")) Nil
         else Seq(protocolLine(Set.empty, Set("check-constraints")))) :+
          metaLine(snap.schemaJson, snap.partitionBy, snap.changeFeed,
            Some(snap.constraints + (name -> checkSql))))
    }.get
  }

  /** DROP CONSTRAINT: removes the named CHECK; fails named when absent. */
  def dropConstraint(spark: SparkSession, table: String, name: String): Long =
    commitLoop(spark, table, "constraint") { snap =>
      require(snap.constraints.contains(name),
        s"versioned table $table has no constraint $name " +
          s"(has: ${snap.constraints.keys.toSeq.sorted.mkString(", ")})")
      Some(Seq(metaLine(snap.schemaJson, snap.partitionBy, snap.changeFeed,
        Some(snap.constraints - name))))
    }.get

  /** The one commit step every writer publishes through: re-snapshot,
    * check, build actions, publish exclusively, retry on loss. It owns
    * the rules every writer shares:
    *  - a missing table fails named, except for the two ops that create
    *    one (`create`, `convert`), which fail on an existing table and
    *    decide against the empty [[Genesis]] state;
    *  - the writer-features guard;
    *  - `txn`: an (app, batch) pair already in the log abandons the
    *    commit (the foreachBatch replay contract); otherwise its `txn`
    *    line rides the commit;
    *  - `rule`: the writer's conflict rule ([[conflictGuard]],
    *    [[constraintsUnchanged]], optimize's rewrite rule), checked
    *    against every attempt's snapshot before `actions` runs, so a
    *    writer that materializes its files inside `actions` writes
    *    nothing on a replay or a conflict;
    *  - `orphans`: when the commit throws or is abandoned (`actions` or
    *    the replay check answers None), every file the writer tracked is
    *    swept. `convert` passes none: its files are the user's own.
    */
  private def commitLoop(spark: SparkSession, table: String, op: String,
      orphans: Option[OrphanTracker] = None, txn: Option[(String, Long)] = None,
      rule: Snapshot => Unit = _ => ())(
      actions: Snapshot => Option[Seq[String]]): Option[Long] = {
    val fs = fsOf(spark, table)
    val creates = op == "create" || op == "convert"
    def publish(): Option[Long] = {
      var attempt = 0
      while (attempt < MaxCommitAttempts) {
        val vs = commitVersions(fs, table)
        if (creates) require(vs.isEmpty,
          s"versioned table $table was created concurrently — $op needs a path without one")
        else requireTable(vs.nonEmpty, table)
        val snap = if (vs.isEmpty) Genesis else snapshotAt(spark, table)
        // the writer-features guard (r20): a build that doesn't understand
        // table state it would silently corrupt (DVs it wouldn't fold, cdc
        // sidecars it wouldn't write, CHECKs it wouldn't evaluate) refuses
        // to commit ANYTHING, including vacuum (which would sweep sidecars
        // it can't see as referenced). Reads stay served.
        val unsupported = snap.writerFeatures -- SupportedWriterFeatures
        require(unsupported.isEmpty,
          s"versioned table $table requires writer features " +
            s"${unsupported.toSeq.sorted.mkString(", ")} this build does not " +
            s"support (supported: ${SupportedWriterFeatures.toSeq.sorted.mkString(", ")}) — " +
            "refusing to commit state this writer could silently corrupt; " +
            "upgrade the writer (reads are unaffected)")
        if (txn.exists { case (app, batch) => snap.txns.get(app).exists(_ >= batch) })
          return None
        rule(snap)
        actions(snap) match {
          case None => return None
          case Some(lines) =>
            val v = snap.version + 1
            val token = java.util.UUID.randomUUID().toString
            val body = (txn.map { case (app, batch) => txnLine(app, batch) }.toSeq ++
              lines :+ commitLine(op, token)).mkString("", "\n", "\n")
            if (tryPublish(fs, commitPath(table, v), body, token)) {
              // the commit is durably published from here; the checkpoint
              // is DERIVED, last-writer-wins state — a failure writing it
              // (a concurrent vacuum racing the horizon past v, transient
              // IO) must never surface as a failed commit, or a plain
              // append() caller would retry and double-append (only
              // txnAppend is idempotent). A later writer at the next
              // interval re-covers replay bounding.
              if (v > 0 && v % checkpointInterval == 0)
                try writeCheckpoint(fs, table, snapshotAt(spark, table, v))
                catch { case scala.util.control.NonFatal(_) => () }
              return Some(v)
            }
        }
        attempt += 1
      }
      sys.error(s"versioned table $table: lost the commit race $MaxCommitAttempts times — " +
        "a writer storm needs external coordination")
    }
    var out: Option[Long] = None
    try out = publish()
    finally if (out.isEmpty) orphans.foreach(_.sweep())
    out
  }

  /** The DML conflict rule: a merge, MERGE INTO, delete or update DECIDED
    * against the table at `baseVersion`; any non-vacuum commit landing
    * before its publish does not commute and fails NAMED.
    */
  private def conflictGuard(spark: SparkSession, table: String,
      baseVersion: Long, opName: String)(snap: Snapshot): Unit =
    if (snap.version != baseVersion) {
      val fs = fsOf(spark, table)
      ((baseVersion + 1) to snap.version).foreach { v =>
        val op = parseCommit(fs, table, v)._2
        if (op != "vacuum") sys.error(
          s"versioned table $table: concurrent commit $v (op=$op) conflicts " +
            s"with a $opName begun at version $baseVersion — $opName does not " +
            s"commute with concurrent writes; re-run the $opName on the new snapshot")
      }
    }

  /** The blind writers' conflict rule (append, overwrite,
    * overwritePartitions): their rows were enforced against `base`'s
    * CHECK constraints, and a blind write has no other read to anchor on,
    * so a concurrent constraint change fails them named instead of
    * publishing rows the new rule never checked.
    */
  private def constraintsUnchanged(table: String, base: Snapshot, op: String)(
      snap: Snapshot): Unit =
    if (snap.constraints != base.constraints) sys.error(
      s"versioned table $table: constraints changed concurrently while an $op " +
        "was in flight — re-run it so it is enforced against the new constraint set")

  /** Create the table at version 0; fails named if it already exists.
    * `partitionBy` declares hive-style partition columns (i26): every
    * add in the log carries its partition values, snapshot planning
    * prunes on them, and [[overwritePartitions]] gets its remove set.
    */
  def create(df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
      changeFeed: Boolean = false): Long = {
    val spark = df.sparkSession
    require(!exists(spark, table),
      s"versioned table $table already exists — append() or overwrite() it")
    val missing = partitionBy.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"partition columns absent from the frame: ${missing.mkString(", ")}")
    val schema = df.schema
    val adds = writeData(df, table, schema, partitionBy)
    commitLoop(spark, table, "create") { _ =>
      Some(metaLine(schema.json, partitionBy, changeFeed) +: adds.map(addLine))
    }.get
  }

  /** CONVERT-in-place (Delta's `CONVERT TO DELTA parquet.`…``, i39): turn
    * an EXISTING plain-parquet directory into a versioned table without
    * rewriting a byte — one commit (op `convert`) whose adds reference
    * the files where they lie, each carrying its footer stats (i25), so
    * time travel, DML, constraints and stats-pruned reads work from
    * version 0. The migration face of "switch to this library".
    *
    * Unpartitioned layouts only, by design: a hive-partitioned directory
    * keeps partition VALUES in path segments, but graft reads files by
    * their own columns ([[scanFiles]] never derives columns from paths —
    * the property that makes every later rewrite self-contained), so
    * importing one would serve NULLs for the partition column; fail
    * NAMED with the rewrite guidance instead. Schemas are merged across
    * footers (`mergeSchema`): a file missing a merged column serves
    * typed NULLs (the appendEvolve contract); a type conflict fails
    * named in the merge.
    *
    * Converted files live OUTSIDE `data/`; [[vacuum]] sweeps
    * unreferenced root-level parquet too, so a post-convert rewrite
    * (merge/delete/optimize) retires them normally. Returns version 0.
    */
  /** Is `rel` (table-relative) a data parquet file graft may IMPORT
    * (convert) or RECLAIM (vacuum's root sweep)? ONE definition — the
    * parquet suffix plus Spark's own hidden-path rule ('.'/'_' prefix on
    * ANY path segment, the InMemoryFileIndex discipline) — so the import
    * set and the reclaim universe are provably the same: a file convert
    * classifies as non-data (a `_delta_log/` checkpoint, a `.backup/`)
    * is exactly a file vacuum must never delete.
    */
  private def isDataParquet(rel: String): Boolean = {
    val segs = rel.split('/')
    segs.last.endsWith(".parquet") &&
      segs.forall(s => !s.startsWith(".") && !s.startsWith("_"))
  }

  def convert(spark: SparkSession, dir: String): Long = {
    require(!exists(spark, dir),
      s"$dir is already a versioned table — nothing to convert")
    val fs = fsOf(spark, dir)
    require(fs.exists(new Path(dir)), s"no directory at $dir")
    require(fs.getFileStatus(new Path(dir)).isDirectory,
      s"$dir is a file, not a directory — convert takes the table DIRECTORY")
    val rootPath = tableRoot(fs, dir)
    val files = {
      val it = fs.listFiles(new Path(dir), true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) { val f = it.next()
        if (isDataParquet(relativize(rootPath, f.getPath))) b += f }
      b.result().sortBy(_.getPath.toString)
    }
    require(files.nonEmpty, s"no parquet files under $dir — nothing to convert")
    // hive detection on DIRECTORY segments only: a flat file whose NAME
    // happens to contain '=' is not a partition layout
    val hivePartitioned = files.exists(f =>
      relativize(rootPath, f.getPath).split('/').init.exists(_.contains("=")))
    require(!hivePartitioned,
      s"$dir is hive-partitioned (path segments carry partition values) — " +
        "graft data files must carry every column themselves; rewrite " +
        "through create(df, table, partitionBy) instead of converting in place")
    // schema from the EXPLICIT import list, not the directory: passing
    // file paths skips Spark's partition/directory discovery, so nested
    // layouts read fine (no 'conflicting directory structures'), and the
    // schema's universe is exactly the files being imported
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(files.map(_.getPath.toString): _*).schema
    val conf = spark.sparkContext.hadoopConfiguration
    val adds = files.map { f =>
      val rel = relativize(rootPath, f.getPath)
      val (rows, stats) = footerStats(f.getPath, conf, schema)
      AddFile(rel, rows, f.getLen, Map.empty, stats)
    }
    commitLoop(spark, dir, "convert")(_ => Some(metaLine(schema.json) +: adds.map(addLine))).get
  }

  /** DESCRIBE DETAIL (Delta's observability face): one row of table
    * metadata — location, current version, file count and total bytes,
    * partition columns, properties (changeFeed, constraints), protocol
    * features. Driver metadata-rate (one snapshot read, no data scan).
    */
  def detail(spark: SparkSession, table: String): DataFrame = {
    val s = snapshotAt(spark, table)
    val fs = fsOf(spark, table)
    import spark.implicits._
    Seq((
      "graft-versioned",
      fs.makeQualified(new Path(table)).toString,
      s.version,
      s.files.size.toLong,
      s.files.map(_.bytes).sum,
      s.files.map(_.effRows).sum,
      s.partitionBy,
      s.changeFeed,
      s.constraints.toSeq.sortBy(_._1).map { case (k, v) => s"$k: $v" },
      s.readerFeatures.toSeq.sorted,
      s.writerFeatures.toSeq.sorted
    )).toDF("format", "location", "version", "num_files", "size_bytes",
      "num_rows", "partition_columns", "change_feed", "constraints",
      "reader_features", "writer_features")
  }

  /** Turn the change feed ON for an existing table (i29; Delta's
    * `delta.enableChangeDataFeed` property): DML commits from here on
    * write `_change_data` sidecars and [[readChangeFeed]] serves row-level
    * change types from this version forward. One meta commit; idempotent
    * no-op when already enabled.
    */
  def enableChangeFeed(spark: SparkSession, table: String): Long =
    // dedicated op (r19 advice): a table-property change must stay
    // distinguishable from a data append in history() and the feed-face
    // op dispatch — "property" is a no-op for both faces, like "constraint"
    commitLoop(spark, table, "property") { snap =>
      if (snap.changeFeed) None
      else Some(
        // writer feature rides the enabling commit: from here every DML
        // must write cdc sidecars, and a writer that wouldn't breaks
        // the feed — refuse it at commitLoop's guard instead
        (if (snap.writerFeatures.contains("change-data-feed")) Nil
         else Seq(protocolLine(Set.empty, Set("change-data-feed")))) :+
          metaLine(snap.schemaJson, snap.partitionBy, changeFeed = true))
    }.getOrElse(latestVersion(spark, table))

  /** Append `df` (schema-enforced) as one commit; returns the version. */
  def append(df: DataFrame, table: String): Long =
    txnAppend(df, table, app = null, batch = 0L).get

  /** [[append]] under SCHEMA EVOLUTION — the public Delta `mergeSchema`
    * contract the reference's silver tables lean on when a source adds a
    * column: NEW columns WIDEN the table schema in this same commit (a
    * `meta` action), columns the frame omits land as typed NULLs, and a
    * type CHANGE on a shared column still fails named. Widening never
    * rewrites history: older files simply read the new columns as null,
    * and time travel below the widening commit serves the old schema.
    */
  def appendEvolve(df: DataFrame, table: String): Long =
    txnAppend(df, table, app = null, batch = 0L, evolve = true).get

  /** Merge `incoming`'s columns into `base`: additions append, shared
    * columns must keep their type (named failure), nothing is removed.
    */
  private def evolvedSchema(base: StructType, incoming: StructType): StructType = {
    val baseTypes = base.fields.map(f => f.name -> f.dataType).toMap
    val retyped = incoming.fields.filter(f =>
      baseTypes.get(f.name).exists(!sameType(_, f.dataType)))
    require(retyped.isEmpty,
      s"schema drift: columns ${retyped.map(_.name).mkString(", ")} changed type " +
        s"(${retyped.map(f => s"${f.name}: ${baseTypes(f.name).simpleString} -> ${f.dataType.simpleString}").mkString("; ")}) — " +
        "evolution ADDS columns, it never retypes")
    StructType(base.fields ++ incoming.fields.filterNot(f => baseTypes.contains(f.name)))
  }

  /** Idempotent append: a (app, batch) pair already in the log commits
    * NOTHING and returns None — the exactly-once contract a Structured
    * Streaming foreachBatch replay needs (s34). Batch ids must be
    * monotonic per app (the streaming engine's own guarantee). With
    * `evolve` the append follows [[appendEvolve]]'s widening contract.
    */
  def txnAppend(df: DataFrame, table: String, app: String, batch: Long,
      evolve: Boolean = false): Option[Long] = {
    val spark = df.sparkSession
    val baseSnap = snapshotAt(spark, table)
    val baseSchema = baseSnap.schema
    val writeSchema =
      if (evolve) evolvedSchema(baseSchema, df.schema) else baseSchema
    val prepared = if (evolve) {
      val have = df.columns.toSet
      df.select(writeSchema.fields.map(f =>
        if (have(f.name)) org.apache.spark.sql.functions.col(f.name)
        else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    } else df
    val orphans = new OrphanTracker(spark, table)
    // written on the first attempt, so a replayed batch never writes
    lazy val adds = writeDataEnforced(prepared, table, writeSchema,
      baseSnap.partitionBy, baseSnap.constraints, orphans)
    testHookBeforeCommit()
    commitLoop(spark, table, "append", Some(orphans), Option(app).map(_ -> batch),
        constraintsUnchanged(table, baseSnap, "append")) { snap =>
      // on a retry after losing the race, merge any CONCURRENT widening
      // into ours — the commit's meta must never narrow
      val meta = if (!evolve) Nil else {
        val merged = evolvedSchema(snap.schema, writeSchema)
        if (merged == snap.schema) Nil
        else Seq(metaLine(merged.json, snap.partitionBy))
      }
      Some(meta ++ adds.map(addLine))
    }
  }

  /** Full refresh as one commit: remove every live file, add the new ones.
    * Readers of older versions keep working (their files still exist until
    * [[vacuum]]).
    */
  def overwrite(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    val base = snapshotAt(spark, table)
    val orphans = new OrphanTracker(spark, table)
    lazy val adds = writeDataEnforced(df, table, base.schema, base.partitionBy,
      base.constraints, orphans)
    commitLoop(spark, table, "overwrite", Some(orphans),
        rule = constraintsUnchanged(table, base, "overwrite")) { snap =>
      Some(snap.files.map(f => removeLine(f.path)) ++ adds.map(addLine))
    }.get
  }

  /** Dynamic-partition overwrite as one commit (i26): remove every live
    * file in the partitions `df` TOUCHES, add the new files — the
    * reference's date-partitioned fact refresh
    * (5_gold/fact_transaction.py:49 writes `USING DELTA` partitioned by
    * date) expressed log-native. Untouched partitions are untouched
    * bytes-on-disk; concurrent writers to DISJOINT partitions commute
    * (the retry re-derives the remove set from the fresh snapshot), while
    * an overlapping concurrent touch of the same partition resolves by
    * commit order, exactly like Delta's replaceWhere.
    */
  def overwritePartitions(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    val base = snapshotAt(spark, table)
    require(base.partitionBy.nonEmpty,
      s"versioned table $table is unpartitioned — use overwrite()")
    val orphans = new OrphanTracker(spark, table)
    lazy val adds = writeDataEnforced(df, table, base.schema, base.partitionBy,
      base.constraints, orphans)
    // an empty frame touches NO partition: dynamic-overwrite semantics make
    // it a no-op, and committing an empty overwrite_partitions version
    // would permanently break every change-feed/feedInto consumer (the op
    // fails named there) while changing nothing — mirror merge/delete/
    // update's no-op-means-no-commit contract and return the current
    // version uncommitted
    commitLoop(spark, table, "overwrite_partitions", Some(orphans),
        rule = constraintsUnchanged(table, base, "overwrite_partitions")) { snap =>
      val touched = adds.map(_.partitions).toSet
      if (adds.isEmpty) None
      else Some(snap.files.filter(f => touched.contains(f.partitions))
        .map(f => removeLine(f.path)) ++ adds.map(addLine))
    }.getOrElse(base.version)
  }

  // ------------------------------------------------- change data (i29)

  /** The public Delta CDF column names: every change-feed row carries the
    * table columns plus its change type and the commit that produced it.
    */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Write a change-data sidecar (table columns + [[ChangeTypeCol]]) under
    * `data/cdc-<uuid>/` and return (relative path, rows) per part file —
    * logged as `cdc` actions in the SAME commit as the DML that produced
    * them (the Delta `_change_data` design: sidecars are commit-owned, so
    * the feed can never see half a change set). Sidecars are NOT part of
    * the snapshot file set; vacuum retains them while their commit is
    * retained.
    */
  private[sources] def writeCdc(cdcDf: DataFrame, table: String): Seq[AddFile] = {
    val spark = cdcDf.sparkSession
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val rel = s"$DataDirName/cdc-$uuid"
    cdcDf.write.parquet(s"$table/$rel")
    val fs = fsOf(spark, table)
    val conf = spark.sparkContext.hadoopConfiguration
    val it = fs.listFiles(new Path(s"$table/$rel"), true)
    val b = Seq.newBuilder[AddFile]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val rows = try r.getRecordCount finally r.close()
        b += AddFile(relativize(fs, table, f.getPath), rows, f.getLen)
      }
    }
    b.result().sortBy(_.path)
  }

  // -------------------------------------------------------- merge (i24)

  /** Row-level copy-on-write upsert — the reference's central write
    * primitive (two `MERGE INTO` per silver table,
    * 4_silver/silver_transactions.py:124 expire-merge, :153 insert-merge)
    * expressed log-native: live rows whose key matches a staged row are
    * REPLACED by the staged row, unmatched staged rows insert, and only
    * the files that actually CONTAIN matched keys are rewritten (Delta's
    * copy-on-write, vs [[overwrite]]'s full rewrite).
    *
    * The scan that finds those files is two-stage, both stages bounded:
    *  1. the staged batch's per-key-column [min,max] (observed on the
    *    staged checkpoint, no job of its own) prunes the live file list
    *    through the log's own i25 stats — a merge of one day's keys
    *    into a year's table plans ~one day's files;
    *  2. the surviving candidates are scanned key-columns-only (column-
    *    pruned, DV-aware) carrying per-row file metadata, joined to the staged keys: the
    *    result is the exact matched-file list, file-catalog-sized.
    *
    * CONFLICTS (the first protocol case where retry is NOT safe): a merge
    * read the table to decide what to rewrite, so any concurrent commit
    * that changes table contents between its snapshot and its publish —
    * another merge, an append (whose rows might have matched), an
    * overwrite, an optimize — invalidates the decision. Overlapping
    * concurrent merges do NOT commute; the loser fails NAMED with the
    * intervening commit, and the caller re-runs on the fresh snapshot.
    * Pure `vacuum` commits change no live file and are the one
    * retry-safe interleaving.
    *
    * Staged batches must be unique per key (the Delta multiple-match
    * error); null staged keys never match (SQL join semantics) and land
    * as inserts.
    */
  def merge(staged: DataFrame, table: String, keys: Seq[String]): Long =
    txnMerge(staged, table, keys, app = null, batch = 0L).get

  /** Conditional MERGE builder (i34) — full Delta clause semantics
    * (`whenMatchedUpdate/Delete`, `whenNotMatchedInsert`, first-true
    * clause dispatch, multiple-match error); see [[MergeIntoBuilder]].
    * [[merge]] remains the unconditional whole-row-upsert fast path.
    */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      on: org.apache.spark.sql.Column, targetAlias: String = "target",
      sourceAlias: String = "source"): MergeIntoBuilder =
    new MergeIntoBuilder(spark, table, source, on, targetAlias, sourceAlias)

  /** [[merge]] with the (app, batch) exactly-once contract of
    * [[txnAppend]] — the streaming SCD2 sink's commit (s04 riding i23).
    * `readVersion` (when ≥ 0) anchors conflict detection at the snapshot
    * the CALLER computed `staged` from: a staged batch derived from an
    * earlier read (Scd2.mergeVersioned reads the dimension to decide
    * expirations) must conflict with anything that landed since THAT
    * read, not since this call's own snapshot — otherwise two concurrent
    * SCD2 merges interleave silently and the dimension ends with two
    * current rows per key.
    */
  def txnMerge(staged: DataFrame, table: String, keys: Seq[String],
      app: String, batch: Long, readVersion: Long = -1L): Option[Long] =
    mergeStaged(staged, table, keys, app, batch, readVersion, emptyIsNoop = false)

  /** [[txnMerge]]'s body. The staged batch is materialized ONCE, by the
    * checkpoint of [[stage]], and that job also yields the batch's row
    * count and per-key [min,max]: no separate range aggregation or
    * emptiness job. With `emptyIsNoop` an empty batch commits nothing and
    * returns None — the SCD2 no-op contract of
    * [[graft.ops.Scd2.mergeVersioned]], which can then hand over its
    * upsert unmaterialized; [[merge]] and [[txnMerge]] commit an empty
    * version, as they always did.
    *
    * Two facts decide the rewrite: no key has more than one staged row,
    * and which live files hold a row a staged row replaces. In general
    * they take a duplicate-key collect and the matched-file scan
    * ([[filesHit]]). With `tagged`, the staged batch carries them itself:
    * each row's [[MetaRelCol]] is the logged path of the live file
    * holding the row it replaces (null for an insert), and every such
    * file is a file of the `readVersion` snapshot. That is what
    * [[graft.ops.Scd2.mergeVersioned]] derives from its own scan. The
    * checkpoint job then also observes the set of those paths (file-
    * catalog-sized) and the most staged rows one key has, counted per key
    * over the batch's own partitioning, and neither job runs.
    */
  private[graft] def mergeStaged(staged: DataFrame, table: String, keys: Seq[String],
      app: String, batch: Long, readVersion: Long, emptyIsNoop: Boolean,
      tagged: Boolean = false): Option[Long] = {
    import org.apache.spark.sql.functions._
    val spark = staged.sparkSession
    val base = snapshotAt(spark, table)
    require(keys.nonEmpty, "merge needs at least one key column")
    val missing = keys.filterNot(base.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"merge keys absent from table schema: ${missing.mkString(", ")}")
    // Null-key rows never count as duplicates: they never match a live
    // row and never collide with each other (SQL join semantics —
    // documented below as landing as inserts), so grouping them as equal
    // would turn a legal two-null-row batch into a deterministic
    // poison-pill micro-batch under the s04 streaming replay (every
    // replay re-fails).
    val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
    val tags = org.apache.spark.sql.Observation()
    val toStage = if (!tagged) staged else staged
      .withColumn("__gf_n", when(keyed, count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*))))
      .observe(tags, collect_set(col(MetaRelCol)).as("files"),
        max(col("__gf_n")).as("n"), max_by(struct(keys.map(col): _*), col("__gf_n")).as("key"))
      .drop("__gf_n", MetaRelCol)
    val (stagedAligned, stagedRows, ranges) = stage(align(toStage, base.schema), keys,
      s"merge into $table: staged batch statistics")
    try {
      if (stagedRows == 0L && emptyIsNoop) return None
      // multiple staged rows per key would make the upsert ambiguous —
      // the Delta MERGE multiple-match error, named
      val (dup, hit) =
        if (tagged) {
          val m = graft.ops.Observations.of(tags, s"merge into $table: staged file tags")
          (Option(m("key")).filter(_ => Option(m("n")).exists(_.asInstanceOf[Long] > 1L)),
            Some(m("files").asInstanceOf[scala.collection.Iterable[String]].toSet))
        } else (stagedAligned.filter(keyed).groupBy(keys.map(col): _*)
          .count().filter(col("count") > 1).limit(1).collect().headOption, None)
      require(dup.isEmpty,
        s"merge staged batch has multiple rows for key ${dup.map(_.toString).getOrElse("")} — " +
          "dedupe upstream (Dedup.latestPerKey), exactly as the reference does")

      // No distinct: the check above proved the non-null keys unique, and
      // the semi and anti joins below ignore repeated keys anyway. The
      // checkpoint carries no size estimate the planner can use, so the
      // keys are broadcast here when their exact size (the observed row
      // count times Spark's row-width estimate) is under the broadcast
      // threshold; otherwise the joins shuffle both sides first.
      val stagedKeys = stagedAligned.select(keys.map(col): _*)
      val keyBytes = stagedRows * (8L + stagedKeys.schema.map(_.dataType.defaultSize).sum)
      val stagedKeysDf =
        if (keyBytes <= spark.sessionState.conf.autoBroadcastJoinThreshold) broadcast(stagedKeys)
        else stagedKeys
      val matchedFiles = hit match {
        case Some(paths) => base.files.filter(f => paths.contains(f.path))
        case None if stagedRows == 0L => Nil
        case None => filesHit(spark, table, base.schema, inKeyRanges(base.files, keys.zip(ranges)))(
          _.select((keys.map(col) :+ col(MetaRelCol)): _*).join(stagedKeysDf, keys, "left_semi"))
      }

      // copy-on-write: matched files are rewritten WITHOUT the matched
      // rows; the staged batch lands whole (updates replace, rest insert).
      // Survivor files are REWRITES of already-served rows — marked
      // dataChange=false (the Delta protocol flag) so the change feed
      // serves each row once; only the staged files are changes.
      val lives: Option[DataFrame] =
        if (matchedFiles.isEmpty) None
        else Some(scanFiles(spark, table, matchedFiles, base.schema))
      // op records whether existing rows were REPLACED (merge_update) or
      // the upsert purely inserted (merge) — history's observability
      // face; the append feed serves both as exactly the staged batch
      // (dataChange adds), see readChangesSince. A caller that derived
      // `staged` from an earlier read anchors the conflict rule there.
      commitRewrite(spark, table, if (matchedFiles.nonEmpty) "merge_update" else "merge",
          if (readVersion >= 0) readVersion else base.version, "merge",
          Option(app).map(_ -> batch)) { orphans =>
        val survivorAdds = orphans.track(lives.toSeq.flatMap { lv =>
          writeData(lv.join(stagedKeysDf, keys, "left_anti"),
            table, base.schema, base.partitionBy)
        }).map(_.copy(dataChange = false))
        val stagedAdds = writeDataEnforced(stagedAligned, table,
          base.schema, base.partitionBy, base.constraints, orphans)
        // change data (i29): matched live rows are update preimages, their
        // staged replacements postimages, unmatched staged rows inserts —
        // written as a commit-owned sidecar so the feed survives the merge
        val cdcAdds: Seq[AddFile] =
          if (!base.changeFeed) Nil
          else {
            // checkpoint the preimages ONCE: pre feeds the union AND derives
            // matchedKeysDf for post/ins — without it the matched files
            // rescan for every branch of the cdc write
            val pre = lives.map(_.join(stagedKeysDf, keys, "left_semi"))
              .getOrElse(emptyFrame(spark, base.schema)).localCheckpoint()
            try {
              val matchedKeysDf = pre.select(keys.map(col): _*).distinct()
              val post = stagedAligned.join(matchedKeysDf, keys, "left_semi")
              val ins = stagedAligned.join(matchedKeysDf, keys, "left_anti")
              orphans.track(writeCdc(
                pre.withColumn(ChangeTypeCol, lit("update_preimage"))
                  .unionByName(post.withColumn(ChangeTypeCol, lit("update_postimage")))
                  .unionByName(ins.withColumn(ChangeTypeCol, lit("insert"))),
                table))
            } finally { pre.unpersist(); () }
          }
        Some(Rewrite(matchedFiles, survivorAdds ++ stagedAdds, cdcAdds))
      }
    } finally { stagedAligned.unpersist(); () }
  }

  /** Materialize `df` once, a local checkpoint, and observe on that same
    * job its row count and each of `cols`' [min,max] as stats carriers
    * ([[statCarrier]]; None = all-null or a type the stats don't carry):
    * stage 1 of both merges — [[mergeStaged]]'s staged batch and
    * [[MergeIntoBuilder]]'s source — with no aggregation job of its own.
    * The caller unpersists the checkpoint.
    */
  private[sources] def stage(df: DataFrame, cols: Seq[String], what: String)
      : (DataFrame, Long, Seq[(Option[Any], Option[Any])]) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val obs = org.apache.spark.sql.Observation()
    val staged = df.observe(obs, count(lit(1)).as("__n"), cols.indices.flatMap(i =>
      Seq(min(col(cols(i))).as(s"__mn_$i"), max(col(cols(i))).as(s"__mx_$i"))): _*)
      .localCheckpoint()
    val m = try graft.ops.Observations.of(obs, what)
      catch { case e: Throwable => staged.unpersist(); throw e }
    (staged, m("__n").asInstanceOf[Long],
      cols.indices.map(i => (statCarrier(m(s"__mn_$i")), statCarrier(m(s"__mx_$i")))))
  }

  /** The files whose log stats may hold a key inside a source's observed
    * range, per (table column, [min,max]); an unknown range prunes
    * nothing. A merge of one day's keys into a year's table plans ~one
    * day's files.
    */
  private[sources] def inKeyRanges(files: Seq[AddFile],
      ranges: Seq[(String, (Option[Any], Option[Any]))]): Seq[AddFile] = {
    val pruners = ranges.flatMap {
      case (c, (Some(mn), Some(mx))) => Seq(Pruner(c, "ge", Seq(mn)), Pruner(c, "le", Seq(mx)))
      case _ => Nil
    }
    files.filter(f => pruners.forall(mayMatch(f, _)))
  }

  /** Stage 2 of both merges: the `candidates` holding a row `semi`
    * keeps — one DV-aware scan with per-row file metadata (a key present
    * only in deleted rows is no match), semi-joined to the source side,
    * collected as the exact matched-file list.
    */
  private[sources] def filesHit(spark: SparkSession, table: String, schema: StructType,
      candidates: Seq[AddFile])(semi: DataFrame => DataFrame): Seq[AddFile] =
    if (candidates.isEmpty) Nil
    else {
      val hit = semi(scanFiles(spark, table, candidates, schema, keepMeta = true))
        .select(org.apache.spark.sql.functions.col(MetaRelCol)).distinct()
        .collect().map(_.getString(0)).toSet
      candidates.filter(f => hit.contains(f.path))
    }

  /** A row-level change as materialized: the live files it retires, the
    * files it adds, and its change-data sidecars.
    */
  private[sources] final case class Rewrite(removes: Seq[AddFile], adds: Seq[AddFile],
      cdc: Seq[AddFile])

  /** The commit of a row-level change decided against the table at
    * `readVersion` — [[mergeStaged]], [[MergeIntoBuilder]], and
    * [[rowLevel]] under delete/update and their deletion-vector faces —
    * under [[conflictGuard]]. `write` materializes the change on the
    * first attempt, once the replay check and the conflict rule passed,
    * registering every artifact with the tracker it is given; None
    * commits nothing. A change that adds the table's first deletion
    * vector carries the `deletion-vectors` protocol line.
    */
  private[sources] def commitRewrite(spark: SparkSession, table: String, op: String,
      readVersion: Long, opName: String, txn: Option[(String, Long)] = None)(
      write: OrphanTracker => Option[Rewrite]): Option[Long] = {
    val orphans = new OrphanTracker(spark, table)
    lazy val rewrite = write(orphans)
    testHookBeforeCommit()
    commitLoop(spark, table, op, Some(orphans), txn,
        conflictGuard(spark, table, readVersion, opName)) { snap =>
      rewrite.map { r =>
        val protocol =
          if (!r.adds.exists(_.dv.isDefined) ||
              (snap.readerFeatures.contains("deletion-vectors") &&
                snap.writerFeatures.contains("deletion-vectors"))) Nil
          else Seq(protocolLine(Set("deletion-vectors"), Set("deletion-vectors")))
        protocol ++ r.removes.map(f => removeLine(f.path)) ++ r.adds.map(addLine) ++
          r.cdc.map(cdcLine)
      }
    }
  }

  /** Row-level DELETE (the Delta `DELETE FROM t WHERE pred` primitive,
    * the GDPR-erasure shape), copy-on-write: rewrite ONLY the files that
    * actually hold a matching row, without those rows, as one remove+add
    * commit. NULL-predicate rows survive (SQL DELETE semantics: only TRUE
    * deletes). Returns (version, rowsDeleted) — None when nothing matched
    * (no commit, the reconsume-free no-op). Discovery and conflicts:
    * [[rowLevel]].
    */
  def delete(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column): Option[(Long, Long)] =
    rowLevel(spark, table, pred, set = None, vectors = false)

  /** Merge-on-read DELETE (i30): instead of rewriting every file holding
    * a matching row ([[delete]]'s copy-on-write — a 1-row GDPR delete in
    * a 1 GB file rewrites 1 GB), mark the matched row POSITIONS in a
    * deletion-vector sidecar and re-point the files at it: the write cost
    * is O(deleted positions), not O(touched bytes). Reads anti-join the
    * DV ([[scanFiles]]); [[optimize]] folds DVs back into clean files.
    * The commit carries the `deletion-vectors` protocol feature, so an
    * old reader that would silently resurrect the rows fails named
    * instead ([[SupportedReaderFeatures]]). A re-delete on an already
    * DV'd file unions the old pairs into the new sidecar, so each file
    * points at exactly one dir; a file whose every row is deleted DROPS
    * from the snapshot outright ([[dvSplit]]). Semantics are [[delete]]'s
    * exactly. Returns (version, rowsDeleted).
    */
  def deleteVectors(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column): Option[(Long, Long)] =
    rowLevel(spark, table, pred, set = None, vectors = true)

  /** Row-level UPDATE (Delta's `UPDATE t SET col = expr WHERE pred`) —
    * the DML triple completed (merge/delete/update), copy-on-write:
    * rewrite ONLY the files holding a matching row, applying `set` to
    * matched rows and passing the rest through byte-equal. The rewritten
    * files carry `dataChange=true`; like a delete, the UPDATE commit
    * BREAKS the append feed named (it removes old row states). `set` must
    * name existing columns with expressions of exactly their types.
    * Returns (version, rowsUpdated), None when nothing matched.
    */
  def update(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Option[(Long, Long)] =
    rowLevel(spark, table, pred, Some(set), vectors = false)

  /** Merge-on-read UPDATE (i30): [[update]]'s semantics at
    * [[deleteVectors]]' write cost — matched row POSITIONS go into a
    * deletion vector on their files (the pre-update states vanish from
    * reads) and the UPDATED row states append as new data files, so a
    * 1-row update in a 1 GB file writes O(positions) + O(updated rows),
    * never O(file). A SET that moves a partition column lands the row in
    * its new partition; the DV removal of the old state makes the move
    * atomic. Returns (version, rowsUpdated).
    */
  def updateVectors(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Option[(Long, Long)] =
    rowLevel(spark, table, pred, Some(set), vectors = true)

  /** The one row-level DML core under [[delete]], [[update]] and their
    * deletion-vector faces. It asks two questions of the operation:
    * does a matched row leave a post-image (`set`: update) or none
    * (delete), and do the hit files lose their matched rows by a rewrite
    * (copy-on-write) or by a deletion vector (`vectors`: merge-on-read)?
    *
    * File discovery is the merge discipline — i25 stats prune the
    * candidates through the predicate, then ONE DV-aware candidate scan
    * with per-row file metadata yields both the exact hit list and the
    * matched count (a match inside a deleted row is no match); files the
    * predicate provably misses are untouched bytes. NULL-predicate rows
    * never match. With the change feed on, the matched rows are logged
    * as `delete` or `update_preimage`/`update_postimage` sidecars in the
    * same commit (i29). Same conflict rule as [[merge]]: the DML decided
    * against a snapshot, so any concurrent non-vacuum commit fails NAMED;
    * every abandoned path sweeps what it wrote ([[OrphanTracker]]).
    */
  private def rowLevel(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column,
      set: Option[Map[String, org.apache.spark.sql.Column]],
      vectors: Boolean): Option[(Long, Long)] = {
    import org.apache.spark.sql.functions.{coalesce => cls, col => c, lit => l, when => whn}
    val op = if (set.isEmpty) "delete" else "update"
    val base = snapshotAt(spark, table)
    set.foreach { s =>
      require(s.nonEmpty,
        "update with an empty SET map would commit a version while changing " +
          "no row — name the columns")
      val bad = s.keys.filterNot(base.schema.fieldNames.contains)
      require(bad.isEmpty, s"update targets absent columns: ${bad.mkString(", ")}")
      // the column's own type required (up to nullability), BEFORE the
      // candidates-empty early return: When-branch coercion is
      // config-dependent (legacy non-ANSI casts land silent NULLs; ANSI
      // throws mid-write), and a misconfigured SET must fail named even
      // when pruning empties the match — passing on small/pruned data and
      // blowing up in production is the worst ordering
      val probe = emptyFrame(spark, base.schema)
      s.foreach { case (f, e) =>
        val got = probe.select(e.as(f)).schema.head.dataType
        val want = base.schema(f).dataType
        require(sameType(got, want),
          s"schema drift: update SET expression for '$f' has type " +
            s"${got.simpleString}, column is ${want.simpleString} — cast explicitly")
      }
    }
    val candidates = pruneByPred(spark, base, pred)
    if (candidates.isEmpty) return None
    val hitPred = cls(pred, l(false))
    // a deletion vector is written from the matched rows' positions and
    // a post-image from their values, so that face materializes them once
    val scanned = scanFiles(spark, table, candidates, base.schema, keepMeta = true)
      .filter(hitPred)
    val matched = if (vectors) scanned.localCheckpoint() else scanned
    try {
      val perFile = matched.groupBy(c(MetaRelCol)).count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      if (perFile.isEmpty) return None
      val hitFiles = candidates.filter(f => perFile.contains(f.path))
      def postImage(rows: DataFrame, s: Map[String, org.apache.spark.sql.Column]) =
        rows.select(base.schema.fieldNames.map(f => s.get(f).map(_.as(f)).getOrElse(c(f))).toSeq: _*)
      val (totals, dvved) = if (vectors) dvSplit(hitFiles, perFile) else (Map.empty[String, Long], Nil)
      val v = commitRewrite(spark, table, op, base.version, op) { orphans =>
        // (the matched rows, the adds that replace the hit files)
        val (pre, adds) =
          if (vectors) {
            val dvRel =
              if (dvved.isEmpty) ""
              else orphans.trackDir(writeDvSidecar(spark, table, matched, hitFiles, perFile))
            val pre = matched.drop(MetaRelCol, MetaPosCol)
            val postAdds = set.toSeq.flatMap(s => writeDataEnforced(postImage(pre, s),
              table, base.schema, base.partitionBy, base.constraints, orphans))
            (pre, dvved.map(f => f.copy(dataChange = false,
              dv = Some(DvDesc(dvRel, totals(f.path))))) ++ postAdds)
          } else {
            val lives = scanFiles(spark, table, hitFiles, base.schema)
            val rewritten = set match {
              case None => lives.filter(!hitPred)
              case Some(s) => lives.select(base.schema.fieldNames.map(f =>
                s.get(f).map(whn(hitPred, _).otherwise(c(f)).as(f)).getOrElse(c(f))).toSeq: _*)
            }
            // a delete's survivors are rows the table already held: every
            // CHECK holds on them, and their re-add is no data change
            val written = writeDataEnforced(rewritten, table, base.schema,
              base.partitionBy, if (set.isEmpty) Map.empty else base.constraints, orphans)
            (lives.filter(hitPred),
              if (set.isEmpty) written.map(_.copy(dataChange = false)) else written)
          }
        // change data (i29): the pre-images, and the post-images after
        // them; the copy-on-write face checkpoints its pre-images once
        // when they feed both union branches
        val cdcAdds = if (!base.changeFeed) Nil else {
          val once = if (set.isDefined && !vectors) pre.localCheckpoint() else pre
          try orphans.track(writeCdc(set match {
            case None => once.withColumn(ChangeTypeCol, l("delete"))
            case Some(s) => once.withColumn(ChangeTypeCol, l("update_preimage"))
              .unionByName(postImage(once, s).withColumn(ChangeTypeCol, l("update_postimage")))
          }, table)) finally { if (once ne pre) once.unpersist(); () }
        }
        Some(Rewrite(hitFiles, adds, cdcAdds))
      }
      Some((v.get, perFile.values.sum))
    } finally { matched.unpersist(); () }
  }

  /** Write one deletion-vector sidecar dir holding `matched`'s (file,
    * pos) coordinates UNIONED with the hit files' existing pairs (each
    * file points at exactly ONE dir; position sets only grow — the
    * invariant [[scanFiles]]' union-of-dirs anti-join rests on). Old
    * pairs fold in via a broadcast semi-join, never an isin literal list
    * (the re-hit set is file-catalog-sized). The sidecar is sized by its
    * CONTENT (known exactly from `perFile`), not the discovery scan's
    * task count — a 1-row delete writes one tiny pair file; clustering
    * by file keeps each data file's positions together. Returns the
    * sidecar dir (callers own the per-file cardinality bookkeeping).
    */
  private def writeDvSidecar(spark: SparkSession, table: String,
      matched: DataFrame, hitFiles: Seq[AddFile],
      perFile: Map[String, Long]): String = {
    import org.apache.spark.sql.functions.{broadcast, col => c}
    val newPairs = matched
      .select(c(MetaRelCol).as("file"), c(MetaPosCol).as("pos"))
    val oldDirs = hitFiles.flatMap(_.dv).map(_.path).distinct
    val allPairs =
      if (oldDirs.isEmpty) newPairs
      else {
        import spark.implicits._
        val rehitDf = hitFiles.filter(_.dv.isDefined).map(_.path).toDF("file")
        newPairs.unionByName(
          spark.read.parquet(oldDirs.map(d => s"$table/$d"): _*)
            .select(c("file"), c("pos"))
            .join(broadcast(rehitDf), Seq("file"), "left_semi"))
      }
    val dvRel = s"$DataDirName/dv-${java.util.UUID.randomUUID().toString.take(12)}"
    val nDvParts = math.min(
      spark.sparkContext.defaultParallelism.toLong,
      perFile.values.sum / 4000000L + 1L).toInt
    allPairs.repartition(nDvParts, c("file")).write.parquet(s"$table/$dvRel")
    dvRel
  }

  /** (per-file TOTAL deleted cardinality, files that still need a DV):
    * a file whose every row is now deleted drops from the snapshot
    * outright (remove, no re-add — a zero-effective-row anti-join would
    * linger until optimize folds it) — the one rule both merge-on-read
    * faces share.
    */
  private def dvSplit(hitFiles: Seq[AddFile], perFile: Map[String, Long])
      : (Map[String, Long], Seq[AddFile]) = {
    val totals = hitFiles.map(f =>
      f.path -> (perFile(f.path) + f.dv.map(_.rows).getOrElse(0L))).toMap
    (totals, hitFiles.filterNot(f => totals(f.path) >= f.rows))
  }

  // ----------------------------------------------------- optimize (i28)

  /** OPTIMIZE as a commit: within each partition, files smaller than
    * `targetBytes` are rewritten into right-sized ones and swapped in as
    * one `remove`+`add` transaction — data IDENTICAL, so time travel to
    * any pre-compaction version still reads (its files live until
    * [[vacuum]]). The i13 small-files discipline (a streaming sink's
    * per-batch files make 100k-file tables) expressed log-native.
    *
    * Concurrency: compaction reads only the files it removes, so a
    * concurrent APPEND commutes (retry proceeds); a concurrent commit
    * that REMOVED one of the source files (another optimize, a merge, an
    * overwrite) fails NAMED. Returns None when nothing needs compacting.
    *
    * `zorderBy` is Delta's `OPTIMIZE … ZORDER BY (a, b)`: the compacted
    * rewrite range-partitions + sorts on the i14 Morton curve over the
    * two columns' rank bins ([[zorderValue]]), so each output file covers
    * a compact 2-D region and the i25 per-file stats PRUNE on both
    * columns afterwards — compaction and clustering in the same commit,
    * data still identical. A group with nothing to cluster on (a z-column
    * all-null or single-valued) falls back to the plain rewrite
    * (clustering is an optimization, never a failure).
    */
  def optimize(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Option[(String, String)] = None): Option[Long] = {
    val base = snapshotAt(spark, table)
    zorderBy.foreach { case (a, b) =>
      val missing = Seq(a, b).filterNot(base.schema.fieldNames.contains)
      require(missing.isEmpty,
        s"zorderBy columns absent from table schema: ${missing.mkString(", ")}")
    }
    val fs = fsOf(spark, table)
    def sizeOf(f: AddFile): Long =
      if (f.bytes > 0) f.bytes
      else fs.getFileStatus(new Path(s"$table/${f.path}")).getLen // pre-i25 adds
    // Selection + convergence (the Delta OPTIMIZE discipline): only files
    // under HALF the target are candidates, and a partition group rewrites
    // only when it makes PROGRESS (strictly fewer files). Outputs are
    // therefore ≥ target/2 (or the group's whole remaining bytes), so the
    // NEXT optimize selects nothing and returns None — a periodic
    // optimize converges instead of committing an identical rewrite
    // forever (each pointless commit would also abort concurrent DML via
    // the conflict rule). Per-group compaction keeps a hot partition from
    // fanning a cold one's rows across the global task count.
    val groups = base.files.groupBy(_.partitions).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString("|"))
      .flatMap { case (_, gfs) =>
        // DV-carrying files are ALWAYS candidates regardless of size: the
        // fold (rewrite without the deleted rows, drop the DV) is
        // OPTIMIZE's merge-on-read cleanup duty (i30), and a folded file
        // comes out clean so convergence still holds
        val smalls = gfs.filter(f => f.dv.isDefined || sizeOf(f) < targetBytes / 2)
        val bytes = smalls.map(sizeOf).sum
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        // nOut < smalls.size holds by construction (each file < target/2
        // ⇒ nOut ≤ ⌈size/2⌉ < size for size ≥ 2): the size gate alone is
        // the progress rule, the convergence math lives in the selection
        if (smalls.size >= 2 || smalls.exists(_.dv.isDefined)) Some((smalls, nOut))
        else None
      }
    if (groups.isEmpty) return None
    // compaction changes NO rows: dataChange=false keeps the change feed
    // from re-serving every compacted row as an append. Groups run as
    // CONCURRENT Spark jobs on a bounded pool — per-group writes keep a
    // hot partition from fanning a cold one's rows, without paying
    // #partitions sequential job round-trips on a 365-partition table.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, groups.size),
      (r: Runnable) => { val th = new Thread(r, "graft-optimize")
        th.setDaemon(true); th })
    val adds = try {
      import scala.jdk.CollectionConverters._
      val tasks = groups.map { case (smalls, nOut) =>
        new java.util.concurrent.Callable[Seq[AddFile]] {
          override def call(): Seq[AddFile] = {
            import org.apache.spark.sql.functions.{call_function, coalesce, col, element_at, lit}
            // DV-aware: the compacted rewrite folds deletion vectors out
            val df = scanFiles(spark, table, smalls, base.schema)
            val laidOut = zorderBy.flatMap { case (a, b) => zorderValue(df, a, b) } match {
              case None => df.repartition(nOut)
              case Some(z) =>
                // a row's file is its bin among equal-count cuts of the
                // curve, taken from a seeded sample of at most
                // ZorderSampleRows curve values (every value of a smaller
                // group), and the shuffle key is the one whose hash
                // partition IS that file. A range partitioner's sample
                // (~100 values per file, seeded by the RDD id) cuts files
                // hundreds of rows off the Morton blocks, widening their
                // stats by a different amount on every run. Then an
                // in-task sort on the curve; the working columns drop (a
                // projection keeps the order) so align() sees the schema
                val withZ = df.withColumn("_graft_z", z)
                val zs = withZ.select(col("_graft_z")).filter(col("_graft_z").isNotNull)
                  .sample(math.min(1.0,
                    ZorderSampleRows.toDouble / math.max(1L, smalls.map(_.effRows).sum)), 0L)
                  .collect().map(_.getLong(0)).sorted
                val cuts =
                  if (zs.isEmpty) Array.empty[Double]
                  else (1 until nOut).map(k => zs((k.toLong * zs.length / nOut).toInt).toDouble)
                    .distinct.toArray
                val file = coalesce(
                  call_function("graft_bin", col("_graft_z").cast("double"), lit(cuts)), lit(0L))
                withZ.withColumn("_graft_z_file",
                    element_at(lit(hashPartitionKeys(nOut)), (file + 1).cast("int")))
                  .repartition(nOut, col("_graft_z_file"))
                  .sortWithinPartitions(col("_graft_z"))
                  .drop("_graft_z", "_graft_z_file")
            }
            writeData(laidOut, table, base.schema, base.partitionBy)
          }
        }
      }
      pool.invokeAll(tasks.asJava).asScala.toSeq.flatMap(_.get())
    } finally pool.shutdown()
    val smalls = groups.flatMap(_._1)
    val smallPaths = smalls.map(_.path).toSet
    val expectedDv = smalls.map(f => f.path -> f.dv).toMap
    testHookBeforeCommit()
    // the rewrite output (potentially most of the table's bytes) is
    // materialized EAGERLY above; the conflict errors of the rule below
    // are the most likely aborts under concurrent writers, and the
    // commit step sweeps the tracked output on every one of them
    val orphans = new OrphanTracker(spark, table)
    orphans.track(adds)
    // the rewrite rule: compaction reads only the files it removes
    def sourcesUnchanged(snap: Snapshot): Unit = {
      val live = snap.files.map(_.path).toSet
      val gone = smallPaths.filterNot(live.contains)
      if (gone.nonEmpty) sys.error(
        s"versioned table $table: files ${gone.take(3).mkString(", ")} were removed " +
          s"concurrently while optimize was rewriting them — re-run optimize on the " +
          "new snapshot (concurrent appends are fine; concurrent rewrites are not)")
      // a concurrent deleteVectors keeps the path live but GROWS its DV —
      // committing our pre-DV rewrite would resurrect the newly deleted
      // rows; same non-commuting class as a removed source file
      val dvChanged = snap.files.filter(f =>
        expectedDv.contains(f.path) && expectedDv(f.path) != f.dv)
      if (dvChanged.nonEmpty) sys.error(
        s"versioned table $table: deletion vectors on " +
          s"${dvChanged.take(3).map(_.path).mkString(", ")} changed concurrently " +
          "while optimize was folding them — re-run optimize on the new snapshot")
    }
    commitLoop(spark, table, "optimize", Some(orphans), rule = sourcesUnchanged) { _ =>
      Some(smalls.map(f => removeLine(f.path)) ++
        adds.map(f => addLine(f.copy(dataChange = false))))
    }
  }

  // z-order rank space per column: 2^12 equi-depth bins, cut at this
  // relative error
  private val ZorderBits = 12
  private val ZorderRelErr = 1e-4
  // curve values sampled to cut one compacted group into its files
  private val ZorderSampleRows = 100000

  /** The rank-binned Morton value of `a` and `b` over `df`, the z-order
    * key of [[optimize]]. Each column's cuts come from one
    * `approxQuantile` pass (bounded driver state, the GK sketch), sorted
    * and deduplicated (heavy ties collapse cuts); a row's bin is
    * #{cuts <= v}, a binary search in codegen
    * ([[graft.functions.BinBySplits]]), scaled to the same 2^12 rank
    * range for both columns so the one with fewer distinct values is not
    * squeezed into the curve's low bits; the two interleave
    * ([[interleaveBits]]). Equal-depth bins hold ~equal ROW counts, so
    * the curve stays uniform in rank space whatever the value
    * distribution — linear scaling would fold a zipf column's dense mass
    * into one bucket and lose the locality exactly where the data lives.
    * None when a column has fewer than two distinct cuts (all-null or a
    * single value): its bins would not separate any rows.
    */
  private def zorderValue(df: DataFrame, a: String,
      b: String): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{call_function, col, floor, lit}
    val nBins = 1 << ZorderBits
    val probs = (1 until nBins).map(_.toDouble / nBins).toArray
    val Array(cutsA, cutsB) = df
      .select(col(a).cast("double").as("a"), col(b).cast("double").as("b"))
      .stat.approxQuantile(Array("a", "b"), probs, ZorderRelErr)
      .map(_.distinct.sorted)
    if (cutsA.length < 2 || cutsB.length < 2) return None
    def rank(c: String, cuts: Array[Double]) =
      floor(call_function("graft_bin", col(c).cast("double"), lit(cuts)) *
        nBins / (cuts.length + 1))
    Some(interleaveBits(rank(a, cutsA), rank(b, cutsB), ZorderBits))
  }

  /** For each partition j of `repartition(n, key)` on a long key, the
    * smallest non-negative key Spark's hash partitioning (Murmur3 with
    * seed 42, then pmod n) sends to j, so a row keyed `keys(j)` lands in
    * partition j.
    */
  private def hashPartitionKeys(n: Int): Array[Long] = {
    val keys = Array.fill(n)(-1L)
    var k = 0L
    var found = 0
    while (found < n) {
      val j = java.lang.Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(k, 42), n)
      if (keys(j) < 0) { keys(j) = k; found += 1 }
      k += 1
    }
    keys
  }

  /** Morton interleave of two bin values in `[0, 2^bits)`: `sa`'s bit i
    * lands at position 2i, `sb`'s at 2i+1, so rows close in BOTH
    * dimensions land close on the curve. Pure integer arithmetic — one
    * codegen'd expression, no UDF.
    */
  private[graft] def interleaveBits(sa: org.apache.spark.sql.Column,
      sb: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { case (acc, i) =>
      acc
        .bitwiseOR(shiftleft(sa.bitwiseAND(lit(1L << i)).cast("long"), i)
          .cast("long"))
        .bitwiseOR(shiftleft(sb.bitwiseAND(lit(1L << i)).cast("long"), i + 1)
          .cast("long"))
    }
  }

  // ------------------------------------------------- change feed (i27)

  /** Exactly-once incremental hop between two versioned tables (the
    * reference's silver→gold streaming read of Delta): consume `source`'s
    * commits past the last consumed version, transform, append to
    * `target` — with the CONSUMED SOURCE VERSION committed as the txn
    * batch in the TARGET's own log, so progress and output are one atomic
    * commit. A replay after any crash (before or after the target commit)
    * re-reads the target's txn table and consumes nothing twice; there is
    * no side checkpoint file to desynchronize.
    *
    * First call (no txn for `app` yet) bootstraps from the full current
    * snapshot; later calls ride [[readChangesSince]] bounded to the
    * version the txn will record (a commit racing in mid-hop is consumed
    * by the NEXT hop, never half-consumed). Returns the consumed source
    * version and the target version, or None when already caught up.
    *
    * A `merge_update` commit on `source` is served as appends (see
    * [[readChangesSince]]): an updated key reaches `target` as a second
    * row version, and the old version is never retracted. Consumers that
    * need retractions use [[feedChangesInto]].
    */
  def feedInto(spark: SparkSession, source: String, target: String, app: String)(
      transform: DataFrame => DataFrame): Option[(Long, Long)] = {
    val last = snapshotAt(spark, target).txns.getOrElse(app, -1L)
    val srcLatest = latestVersion(spark, source)
    if (srcLatest <= last) return None
    val changes =
      if (last < 0) readVersion(spark, source, srcLatest)
      else readChangesSince(spark, source, last, srcLatest)
    txnAppend(transform(changes), target, app, batch = srcLatest)
      .map(tv => (srcLatest, tv))
  }

  // ------------------------------------------------------------- history

  /** One row per commit: (version, op, ts_millis, n_adds, n_removes,
    * txn_app, txn_batch) — the observability face (Delta's DESCRIBE
    * HISTORY). `ts_millis` is the commit's wall-time; null on pre-r19
    * commits written before timestamps existed.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    val fs = fsOf(spark, table)
    val vs = commitVersions(fs, table)
    requireTable(vs.nonEmpty, table)
    val rows = vs.map { v =>
      val (nodes, op) = parseCommit(fs, table, v)
      val txn = nodes.find(_.has("txn")).map(_.get("txn"))
      (v, op,
        commitTs(nodes).map(java.lang.Long.valueOf).orNull,
        nodes.count(_.has("add")), nodes.count(_.has("remove")),
        txn.map(_.get("app").asText()).orNull,
        txn.map(t => java.lang.Long.valueOf(t.get("batch").asLong())).orNull)
    }
    import spark.implicits._
    rows.toDF("version", "op", "ts_millis", "n_adds", "n_removes", "txn_app", "txn_batch")
  }

  /** The change feed: rows APPENDED after `sinceVersion` (exclusive), read
    * from exactly the DATA-CHANGING files those commits added — the
    * q13/q62 incremental contract without a watermark column.
    * `dataChange=false` adds (a merge's survivor rewrites, an optimize's
    * compacted files) are SKIPPED: their rows were already served, and
    * re-reading them would double-count — so merge and optimize commits
    * flow through the feed cleanly (a merge serves exactly its staged
    * batch). Commits that REMOVE rows the feed cannot represent —
    * overwrite, overwrite_partitions, delete — fail NAMED (a refresh or
    * deletion means reconsume; pretending otherwise serves a table state
    * that never existed).
    *
    * A `merge_update` commit is served as appends: its staged rows (the
    * post-images of updated keys plus inserts) are read like any append,
    * so an updated key reaches downstream as a second row version and the
    * old one is never retracted. Consumers that need retractions read
    * [[readChangeFeed]] or hop with [[feedChangesInto]].
    */
  def readChangesSince(spark: SparkSession, table: String, sinceVersion: Long,
      untilVersion: Long = -1L): DataFrame = {
    val fs = fsOf(spark, table)
    val vs = commitVersions(fs, table)
    requireTable(vs.nonEmpty, table)
    // sinceVersion = -1 is GENESIS: serve every commit from version 0
    // inclusive (the face the inclusive `startingVersion` option needs for
    // startingVersion = 0); valid only when the full history survives.
    if (sinceVersion == -1L)
      require(vs.head == 0L,
        s"versioned table $table: genesis read (since = -1) needs the full " +
          s"history, but the log starts at version ${vs.head}")
    else require(vs.contains(sinceVersion),
      s"versioned table $table has no version $sinceVersion to read changes since")
    val later = vs.filter(v => v > sinceVersion &&
      (untilVersion < 0 || v <= untilVersion))
    // CLOSED-WORLD op dispatch: ops that append flow through, ops that
    // remove/replace row states fail named — and an op this reader does
    // not KNOW fails named too (a future op's adds silently misread as
    // appends is exactly the wrong-rows failure the protocol guard exists
    // to prevent; op names are the feed's protocol surface)
    // merge_update: a merge that REWROTE existing rows. Its dataChange
    // adds are EXACTLY the staged batch (post-images of updated keys +
    // fresh inserts; the survivor rewrites are dataChange=false) — the
    // feed serves each staged row once, Delta's `ignoreChanges` contract
    // for merges: an updated key appears downstream as a NEW row version
    // and is never retracted. Consumers that need retraction (the
    // pre-image) read the CDF face, readChangeFeed. This is the i27
    // pinned contract ("merge delta must be exactly the staged batch"),
    // and what feedInto / Medallion.runVersioned's gold hop consume —
    // an SCD2 silver merge rewrites the expiring current row on every
    // updating batch, so failing merge_update here broke every updating
    // medallion hop (r21 verdict item 1b).
    val appendOps = Set("create", "convert", "append", "merge",
      "merge_update", "optimize", "vacuum", "constraint", "property")
    // merge_delete stays fail-named: rows VANISHED mid-range — an
    // append-only serve of the staged rows would leave downstream holding
    // deleted row states with no signal; reconsume or read the CDF face.
    val removeOps = Set("overwrite", "overwrite_partitions", "delete",
      "update", "restore", "merge_delete")
    val adds = later.flatMap { v =>
      val (nodes, op) = parseCommit(fs, table, v)
      if (removeOps.contains(op))
        sys.error(
          s"versioned table $table: commit $v is a $op — row states were removed " +
            s"or replaced, the append delta since $sinceVersion is gone; " +
            "reconsume from the new snapshot (or read the CDF face, " +
            "readChangeFeed, which serves row-level change types)")
      if (!appendOps.contains(op))
        sys.error(
          s"versioned table $table: commit $v has unknown op '$op' — this " +
            "reader cannot tell whether it appends or removes; upgrade the reader")
      nodes.filter(_.has("add")).map(n => parseAdd(n.get("add")))
        .filter(_.dataChange)
    }
    scanFiles(spark, table, adds, snapshotAt(spark, table).schema)
  }

  /** The CDF face (i29; Delta's `readChangeData`): row-level change types
    * for every commit in (`sinceVersion`, `untilVersion`] — table columns
    * plus [[ChangeTypeCol]] ∈ {insert, update_preimage, update_postimage,
    * delete} and [[CommitVersionCol]]. Where [[readChangesSince]] fails
    * named on any commit that removed row states, this serves them:
    *
    *  - create/append commits: dataChange adds as `insert`;
    *  - merge/delete/update commits: the commit-owned `_change_data`
    *    sidecars written when the table's change feed is ON
    *    ([[enableChangeFeed]]) — a DML commit from before enablement
    *    fails named (its row-level changes were never recorded);
    *  - overwrite/overwrite_partitions/restore commits: COMPUTED — the
    *    removed files' surviving rows as `delete`, the added files' rows
    *    as `insert` (no sidecar needed: both file sets are on disk until
    *    vacuum, which is why `sinceVersion` must be ≥ the vacuum horizon);
    *  - optimize/vacuum commits: nothing (no row states change).
    *
    * Scale: the commit walk is driver-side metadata; the data reads are
    * one scan of the clean files, one per deletion vector and one of the
    * sidecar files, whatever the commit count, each joined on the logged
    * path to a broadcast (path → version, type) lookup — never a
    * per-commit plan branch.
    */
  def readChangeFeed(spark: SparkSession, table: String, sinceVersion: Long,
      untilVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val fs = fsOf(spark, table)
    val vs = commitVersions(fs, table)
    requireTable(vs.nonEmpty, table)
    val latest = snapshotAt(spark, table)
    // sinceVersion = -1 is GENESIS: serve every commit's changes from
    // version 0 inclusive (the face the inclusive `startingVersion` option
    // needs for startingVersion = 0); valid only while the full history
    // (log AND pre-vacuum files) survives.
    if (sinceVersion == -1L) {
      require(vs.head == 0L,
        s"versioned table $table: genesis change feed (since = -1) needs " +
          s"the full history, but the log starts at version ${vs.head}")
      require(latest.vacuumHorizon <= 0L,
        s"versioned table $table: genesis change feed reaches below the " +
          s"vacuum horizon ${latest.vacuumHorizon} — early files are gone; " +
          "reconsume from a retained snapshot")
    } else {
      require(vs.contains(sinceVersion),
        s"versioned table $table has no version $sinceVersion to read changes since")
      require(sinceVersion >= latest.vacuumHorizon,
        s"versioned table $table: changes since $sinceVersion reach below the " +
          s"vacuum horizon ${latest.vacuumHorizon} — their files are gone; " +
          "reconsume from a retained snapshot")
    }
    val later = vs.filter(v => v > sinceVersion &&
      (untilVersion < 0 || v <= untilVersion))
    // incremental file-state replay: computed deletes need the REMOVED
    // file's add-state (its DV decides which rows still counted); genesis
    // replays from the empty table
    var fileState: Map[String, AddFile] =
      if (sinceVersion == -1L) Map.empty
      else snapshotAt(spark, table, sinceVersion).files.map(f => f.path -> f).toMap
    val changed = Seq.newBuilder[(AddFile, Long, String)] // (add state, version, type)
    val sidecars = Seq.newBuilder[(AddFile, Long)]        // (cdc file, version)
    later.foreach { v =>
      val (nodes, op) = parseCommit(fs, table, v)
      val adds = nodes.filter(_.has("add")).map(n => parseAdd(n.get("add")))
      val removes = nodes.filter(_.has("remove"))
        .map(_.get("remove").get("path").asText())
      val cdcs = nodes.filter(_.has("cdc")).map(n => parseAdd(n.get("cdc")))
      op match {
        case "create" | "convert" | "append" =>
          adds.filter(_.dataChange).foreach(a => changed += ((a, v, "insert")))
        case "merge" | "merge_update" | "merge_delete" | "delete" | "update" =>
          if (cdcs.isEmpty) sys.error(
            s"versioned table $table: commit $v is a $op committed WITHOUT " +
              "change data (the change feed was not enabled then) — its " +
              "row-level changes were never recorded; reconsume from the snapshot")
          cdcs.foreach(c => sidecars += ((c, v)))
        case "overwrite" | "overwrite_partitions" | "restore" =>
          removes.foreach(p => fileState.get(p).foreach(f => changed += ((f, v, "delete"))))
          adds.foreach(a => changed += ((a, v, "insert")))
        case "optimize" | "vacuum" | "constraint" | "property" => ()
        case other => sys.error(
          s"versioned table $table: commit $v has unknown op '$other' — this " +
            "reader cannot serve its changes; upgrade the reader")
      }
      removes.foreach(p => fileState -= p)
      adds.foreach(a => fileState += (a.path -> a))
    }
    val schema = latest.schema
    val outCols = schema.fieldNames.map(col).toSeq :+
      col(ChangeTypeCol) :+ col(CommitVersionCol)
    import spark.implicits._
    // each file scans once however many versions in the range it serves:
    // the lookup join on its logged path (scanFiles' MetaRelCol) fans a
    // row out to its per-version change entries
    def joined(files: Seq[AddFile], fileSchema: StructType, lookup: DataFrame) =
      scanFiles(spark, table, files.distinctBy(_.path), fileSchema, keepMeta = true)
        .join(org.apache.spark.sql.functions.broadcast(lookup), MetaRelCol)
        .select(outCols: _*)
    // one scan of the clean files, and one per deletion vector, so each
    // DV'd file anti-joins exactly ITS deletion vector (a later, larger DV
    // for the same path in the range must not retro-shrink an earlier state)
    val cdc = sidecars.result()
    val parts = changed.result().groupBy(_._1.dv.map(_.path)).values.toSeq.map { group =>
      joined(group.map(_._1), schema, group.map { case (f, v, ct) => (f.path, v, ct) }
        .toDF(MetaRelCol, CommitVersionCol, ChangeTypeCol))
    } ++ Option.when(cdc.nonEmpty)(joined(cdc.map(_._1), schema.add(ChangeTypeCol, "string"),
      cdc.map { case (f, v) => (f.path, v) }.toDF(MetaRelCol, CommitVersionCol)))
    if (parts.isEmpty)
      emptyFrame(spark, schema.add(ChangeTypeCol, "string").add(CommitVersionCol, "long"))
    else parts.reduce(_.unionByName(_))
  }

  /** [[feedInto]]'s CDF sibling: the exactly-once hop whose transform sees
    * ROW-LEVEL CHANGE TYPES, so the target survives source deletes,
    * updates, merges, overwrites and restores — the hop the flagship
    * medallion needs the day silver takes a GDPR delete. Bootstrap (no txn
    * yet) serves the full current snapshot as `insert` rows; incremental
    * hops ride [[readChangeFeed]]. Same atomic-progress contract as
    * [[feedInto]]: the consumed source version IS the target txn batch.
    */
  def feedChangesInto(spark: SparkSession, source: String, target: String,
      app: String)(transform: DataFrame => DataFrame): Option[(Long, Long)] = {
    import org.apache.spark.sql.functions.lit
    val last = snapshotAt(spark, target).txns.getOrElse(app, -1L)
    val srcLatest = latestVersion(spark, source)
    if (srcLatest <= last) return None
    val changes =
      if (last < 0) readVersion(spark, source, srcLatest)
        .withColumn(ChangeTypeCol, lit("insert"))
        .withColumn(CommitVersionCol, lit(srcLatest))
      else readChangeFeed(spark, source, last, srcLatest)
    txnAppend(transform(changes), target, app, batch = srcLatest)
      .map(tv => (srcLatest, tv))
  }

  // -------------------------------------------------------------- vacuum

  /** Delete data files referenced by NO retained version (the last
    * `retainVersions` snapshots stay time-travelable) plus any straggler
    * a crashed writer left, then return the number of files deleted.
    * The sweep covers `data/` AND unreferenced `*.parquet` anywhere else
    * under the table root (converted-in-place imports, i39 — the public
    * Delta vacuum walks the whole table dir the same way): parquet files
    * parked under a table root that the log does not reference are
    * RECLAIMABLE by contract; non-parquet files are never touched.
    *
    * Two safety rails, both load-bearing:
    *  - the new horizon is LOGGED FIRST, files deleted after — a crash in
    *    between leaves extra files (harmless; the next vacuum sweeps),
    *    never a readable-per-the-log version with missing files;
    *  - only unreferenced files OLDER than `graceMs` die (the public
    *    Delta retention discipline): a concurrent writer's just-written
    *    data files are unreferenced BY DESIGN until its commit publishes,
    *    and a grace-less vacuum would delete them out from under it.
    *    The default (24 h) assumes no append takes a day; tests pass 0.
    */
  def vacuum(spark: SparkSession, table: String, retainVersions: Int = 2,
      graceMs: Long = 24L * 3600 * 1000): Int = {
    require(retainVersions >= 1, s"retainVersions must be >= 1, got $retainVersions")
    require(graceMs >= 0, s"graceMs must be non-negative, got $graceMs")
    val fs = fsOf(spark, table)
    val latest = latestVersion(spark, table)
    val prior = snapshotAt(spark, table).vacuumHorizon
    val horizon = math.max(prior, math.max(0L, latest - retainVersions + 1))
    // horizon first: from here, a below-horizon time travel fails NAMED
    // even if this process dies before deleting a single file
    commitLoop(spark, table, "vacuum")(_ => Some(Seq(vacuumLine(horizon))))
    // referenced = every file live at ANY retained version. Single log
    // pass (r18 verdict ask): files live at the horizon snapshot plus
    // every add in (horizon, latest] — identical set to replaying each
    // retained version (a file live at version v > horizon is either live
    // at horizon or added since), without O(retained × commits) replays.
    // DV sidecar dirs referenced by retained adds and CDC sidecar files of
    // retained commits are kept too (the change feed serves them).
    val latestNow = latestVersion(spark, table)
    val tailNodes = ((horizon + 1) to latestNow)
      .flatMap(v => parseCommit(fs, table, v)._1)
    val refAdds = snapshotAt(spark, table, horizon).files ++
      tailNodes.filter(_.has("add")).map(n => parseAdd(n.get("add")))
    val referenced = refAdds.map(_.path).toSet ++
      tailNodes.filter(_.has("cdc")).map(_.get("cdc").get("path").asText())
    val dvDirs = refAdds.flatMap(_.dv.map(_.path + "/")).distinct
    val cutoff = System.currentTimeMillis() - graceMs
    val dataRoot = new Path(s"$table/$DataDirName")
    var deleted = 0
    if (fs.exists(dataRoot)) {
      val it = fs.listFiles(dataRoot, true)
      val doomed = Seq.newBuilder[Path]
      // paths RELATIVE TO THE TABLE ROOT, exactly as writeData logs them —
      // a two-segment data/<dir>/<file> reconstruction would mis-relativize
      // every hive-partitioned (i26) file (data/files-x/__p_day=…/part-…)
      // and vacuum would delete LIVE data past the grace window
      val rootPath = tableRoot(fs, table) // hoisted: one qualify, not per file
      while (it.hasNext) {
        val f = it.next()
        val rel = relativize(rootPath, f.getPath)
        if (!referenced.contains(rel) && !dvDirs.exists(rel.startsWith) &&
            f.getModificationTime <= cutoff)
          doomed += f.getPath
      }
      val victims = doomed.result()
      victims.foreach { f => if (fs.delete(f, false)) deleted += 1 }
      // sweep file-less commit dirs (recursive: hive partition skeletons
      // empty out too) — but ONLY dirs this vacuum itself emptied, or dirs
      // past the grace cutoff: a concurrent writer's fresh `_temporary/`
      // staging tree is dirs-without-files BY DESIGN mid-job, and deleting
      // it would fail the write it stages. (The deletions above bump the
      // parent mtime, so "we emptied it" must be tracked, not inferred.)
      val dataRootPath = fs.makeQualified(dataRoot).toUri.getPath
      val emptied = victims.flatMap { f =>
        val rel = f.toUri.getPath.stripPrefix(dataRootPath).stripPrefix("/")
        rel.split('/').headOption
      }.toSet
      fs.listStatus(dataRoot).foreach { d =>
        if (d.isDirectory &&
            (emptied.contains(d.getPath.getName) || d.getModificationTime <= cutoff) &&
            !fs.listFiles(d.getPath, true).hasNext)
          fs.delete(d.getPath, true)
      }
    }
    // converted-in-place imports (i39) live OUTSIDE data/: sweep
    // unreferenced ROOT-LEVEL data parquet too (Delta's vacuum walks the
    // whole table dir the same way), so a post-convert rewrite retires
    // the imported files normally. The candidate universe is EXACTLY
    // what convert could have imported ([[isDataParquet]]: parquet
    // suffix, no hidden '.'/'_' segment) — foreign non-parquet or hidden
    // files under the root are never touched. data/ and _graft_log/ are
    // owned by their own sweeps and are skipped WITHOUT re-listing them
    // (a second full LIST of a 10⁶-file data tree per vacuum is an
    // object-store storm).
    {
      val rootPath = tableRoot(fs, table)
      def sweepTree(p: Path): Unit = {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          val rel = relativize(rootPath, f.getPath)
          if (isDataParquet(rel) && !referenced.contains(rel) &&
              f.getModificationTime <= cutoff && fs.delete(f.getPath, false))
            deleted += 1
        }
      }
      fs.listStatus(new Path(table)).foreach { st =>
        val name = st.getPath.getName
        if (name != LogDirName && name != DataDirName &&
            !name.startsWith(".") && !name.startsWith("_")) {
          if (st.isDirectory) sweepTree(st.getPath)
          else {
            val rel = relativize(rootPath, st.getPath)
            if (isDataParquet(rel) && !referenced.contains(rel) &&
                st.getModificationTime <= cutoff && fs.delete(st.getPath, false))
              deleted += 1
          }
        }
      }
    }
    // crashed publishers' temp stragglers in the log dir, same grace
    fs.listStatus(logDir(table)).foreach { st =>
      if (st.getPath.getName.endsWith(".tmp") && st.getModificationTime <= cutoff)
        fs.delete(st.getPath, false)
    }
    deleted
  }
}
