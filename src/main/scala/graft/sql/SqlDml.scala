package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction,
  MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.graft.StreamShim

import graft.sources.VersionedTable

/** SQL spellings for the versioned-table WRITE path (r19, widened r20) —
  * the i11 discipline ("every operator SQL-spellable") extended past
  * SELECTs to the DML the reference runs as Delta SQL: full-grammar
  * `MERGE INTO` with conditional clauses, `DELETE FROM`, `UPDATE`,
  * `OPTIMIZE … ZORDER BY`, `VACUUM`, `DESCRIBE HISTORY`, `RESTORE`,
  * `VERSION/TIMESTAMP AS OF` time travel, and name-catalog DDL
  * (reference: 4_silver/silver_transactions.py:124-176 MERGE INTO with
  * WHEN MATCHED AND …; :21-52 CREATE DATABASE/TABLE;
  * 1_audit/audit_ddl.sql:27 USING DELTA).
  *
  * [[run]] is the single entry point: statements matching the grammar
  * below dispatch onto the [[VersionedTable]] commit protocol (same
  * semantics, same conflict rules, same log — spec-pinned lockstep with
  * the Scala API in SqlSurfaceSpec); anything else falls through to plain
  * `spark.sql`, so a notebook can feed it every statement it has.
  * `MERGE INTO` (the conditional form), `UPDATE` and `DELETE FROM` are
  * read by Spark's own SQL parser; only the graft spellings around them
  * (a `'<dir>'` target, the `USING DELETION VECTORS` suffix, `ON KEYS`)
  * and the graft-only statements are matched here. Spark's parser has no
  * transactional-table target to EXECUTE these on, so the parsed plan is
  * mapped onto the [[VersionedTable]] calls.
  *
  * Grammar (keywords case-insensitive; `<target>` is either a quoted
  * path literal `'<dir>'` or a [[GraftCatalog]] table name; predicates /
  * expressions are Spark SQL). MERGE clauses follow Spark's grammar,
  * which is also Delta's: every WHEN MATCHED clause, then every WHEN NOT
  * MATCHED [BY TARGET], then every WHEN NOT MATCHED BY SOURCE; within a
  * kind, only the last clause may omit its condition. A statement out of
  * that order fails with Spark's `ParseException`.
  * {{{
  *   MERGE INTO <target> [AS] t USING <tempView> [AS] s ON <cond>
  *     WHEN MATCHED [AND <cond>] THEN UPDATE SET c1 = <e1>[, …] | UPDATE SET * | DELETE
  *     WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT (c1, …) VALUES (<e1>, …) | INSERT *
  *     WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET … | DELETE
  *   MERGE INTO <target> USING <tempView> ON KEYS (k1[, k2…])   -- unconditional upsert
  *   DELETE FROM <target> [WHERE <pred>] [USING DELETION VECTORS]   -- no WHERE: every row
  *   UPDATE <target> SET c1 = <e1>[, c2 = <e2>…] WHERE <pred> [USING DELETION VECTORS]
  *   OPTIMIZE <target> [ZORDER BY (a, b)]
  *   VACUUM <target> [RETAIN <n> VERSIONS | RETAIN <n> HOURS]
  *   DESCRIBE HISTORY <target>
  *   DESCRIBE DETAIL <target>
  *   CONVERT TO GRAFT '<dir>'
  *   RESTORE TABLE <target> TO VERSION AS OF <v>
  *   TABLE <target> [VERSION AS OF <v> | TIMESTAMP AS OF <millis>]
  *   ALTER TABLE <target> ADD CONSTRAINT <name> CHECK (<expr>)
  *   ALTER TABLE <target> DROP CONSTRAINT <name>
  *   CREATE TABLE [IF NOT EXISTS] <name> [(<colName type, …>)] USING graft
  *     [PARTITIONED BY (c1, …)] [LOCATION '<dir>']
  *   DROP TABLE [IF EXISTS] <name>
  *   SHOW TABLES
  * }}}
  *
  * DML statements return a one-row metrics frame (Delta's convention):
  * the committed version plus affected-row counts; `TABLE`/`DESCRIBE`/
  * `SHOW` return their data. `USING DELETION VECTORS` picks the i30
  * merge-on-read face; without it, DELETE/UPDATE are copy-on-write.
  * `VACUUM … RETAIN n HOURS` is Delta's public retention spelling: every
  * version committed within the last n hours stays time-travelable (plus
  * the state live at the cutoff), and the file grace window is n hours.
  * A `TABLE <name>` whose name is not in the graft catalog falls through
  * to `spark.sql` (temp views keep working); graft-only statements on an
  * unregistered name fail named.
  */
object SqlDml {

  // <target> = quoted path literal or catalog name
  private val Tgt = """('[^']+'|[A-Za-z_][\w.]*)"""

  private val MergeKeysRe =
    ("""(?is)\s*MERGE\s+INTO\s+""" + Tgt +
      """\s+USING\s+(\S+)\s+ON\s+KEYS\s*\(([^)]+)\)\s*""").r
  private val DmlRe =
    ("""(?is)(\s*(?:MERGE\s+INTO|UPDATE|DELETE\s+FROM)\s+)""" + Tgt + """(.*)""").r
  private val OptimizeRe =
    ("""(?is)\s*OPTIMIZE\s+""" + Tgt +
      """(\s+ZORDER\s+BY\s*\(\s*(\w+)\s*,\s*(\w+)\s*\))?\s*""").r
  private val VacuumRe =
    ("""(?is)\s*VACUUM\s+""" + Tgt +
      """(\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?\s*""").r
  private val HistoryRe =
    ("""(?is)\s*DESCRIBE\s+HISTORY\s+""" + Tgt + """\s*""").r
  private val RestoreRe =
    ("""(?is)\s*RESTORE\s+TABLE\s+""" + Tgt +
      """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""").r
  private val TableVersionRe =
    ("""(?is)\s*TABLE\s+""" + Tgt + """\s+VERSION\s+AS\s+OF\s+(\d+)\s*""").r
  private val TableTimestampRe =
    ("""(?is)\s*TABLE\s+""" + Tgt + """\s+TIMESTAMP\s+AS\s+OF\s+(\d+)\s*""").r
  private val TableRe =
    ("""(?is)\s*TABLE\s+""" + Tgt + """\s*""").r
  private val AddConstraintRe =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Tgt +
      """\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*""").r
  private val DropConstraintRe =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + Tgt + """\s+DROP\s+CONSTRAINT\s+(\w+)\s*""").r
  private val CreateTableRe =
    ("""(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*""" +
      """(?:\((.*)\)\s*)?USING\s+graft""" +
      """(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?""" +
      """(?:\s+LOCATION\s+'([^']+)')?\s*""").r
  private val ConvertRe =
    """(?is)\s*CONVERT\s+TO\s+GRAFT\s+'([^']+)'\s*""".r
  private val DetailRe =
    ("""(?is)\s*DESCRIBE\s+DETAIL\s+""" + Tgt + """\s*""").r
  private val DropTableRe =
    """(?is)\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*""".r
  private val ShowTablesRe = """(?is)\s*SHOW\s+TABLES\s*""".r

  /** Quoted path → literal; bare identifier → catalog lookup, named
    * failure when unregistered (these statements are graft-only — there
    * is nothing to fall through to).
    */
  private def pathOf(spark: SparkSession, token: String): String =
    if (token.startsWith("'")) token.stripPrefix("'").stripSuffix("'")
    else GraftCatalog.resolve(spark, token).getOrElse(sys.error(
      s"no graft table named '$token' — register it with " +
        "CREATE TABLE … USING graft LOCATION '<dir>'"))

  private def metrics(spark: SparkSession, names: Seq[String],
      values: Seq[Long]): DataFrame = {
    import spark.implicits._
    Seq(values).toDF().selectExpr(
      values.indices.map(i => s"value[$i] AS `${names(i)}`"): _*)
  }

  // ------------------------------------- MERGE INTO / UPDATE / DELETE FROM

  private val DvSuffixRe = """(?is)(.*?)\s+USING\s+DELETION\s+VECTORS\s*""".r

  /** Spark's own parser reads the statement; its unresolved plan maps
    * onto the [[VersionedTable]] calls. The target goes in as a
    * backquoted identifier (Spark's grammar has no path-literal table
    * spelling), and a malformed statement fails with Spark's
    * `ParseException`.
    */
  private def runDml(spark: SparkSession, head: String, tgt: String,
      rest: String): DataFrame = {
    val (body, dv) = rest match {
      case DvSuffixRe(b) => (b, true)
      case _ => (rest, false)
    }
    val ident = "`" + tgt.stripPrefix("'").stripSuffix("'").replace("`", "``") + "`"
    spark.sessionState.sqlParser.parsePlan(head + ident + body) match {
      case m: MergeIntoTable =>
        require(!dv, "MERGE INTO takes no USING DELETION VECTORS")
        runMerge(spark, pathOf(spark, tgt), m)
      case d: DeleteFromTable =>
        val path = pathOf(spark, tgt)
        val pred = StreamShim.column(d.condition)
        val result =
          if (dv) VersionedTable.deleteVectors(spark, path, pred)
          else VersionedTable.delete(spark, path, pred)
        val (v, n) = result.getOrElse(
          (VersionedTable.latestVersion(spark, path), 0L))
        metrics(spark, Seq("version", "rows_deleted"), Seq(v, n))
      case u: UpdateTable =>
        require(u.condition.isDefined, s"UPDATE needs a WHERE clause: $head$tgt$rest")
        val path = pathOf(spark, tgt)
        val pred = StreamShim.column(u.condition.get)
        val set = assignments(u.assignments, targetAlias = None)
        val result =
          if (dv) VersionedTable.updateVectors(spark, path, pred, set)
          else VersionedTable.update(spark, path, pred, set)
        val (v, n) = result
          .getOrElse((VersionedTable.latestVersion(spark, path), 0L))
        metrics(spark, Seq("version", "rows_updated"), Seq(v, n))
    }
  }

  /** Each WHEN clause becomes its [[graft.sources.MergeIntoBuilder]] call,
    * in declaration order; unaliased sides are `target` / `source`.
    */
  private def runMerge(spark: SparkSession, path: String,
      m: MergeIntoTable): DataFrame = {
    def aliased(p: LogicalPlan, default: String): (String, LogicalPlan) = p match {
      case a: SubqueryAlias => (a.alias, a.child)
      case other => (default, other)
    }
    val (tAlias, _) = aliased(m.targetTable, "target")
    val (sAlias, sPlan) = aliased(m.sourceTable, "source")
    val source = sPlan match {
      case r: UnresolvedRelation => spark.table(r.tableName)
      case _ => throw new IllegalArgumentException(
        "MERGE INTO reads its source from a table or view name, not a subquery")
    }
    val b = VersionedTable.mergeInto(spark, path, source,
      StreamShim.column(m.mergeCondition), tAlias, sAlias)
    def cond(a: MergeAction): Column = a.condition.map(StreamShim.column).orNull
    def set(a: Seq[Assignment]) = assignments(a, Some(tAlias))
    def unsupported(a: MergeAction): Nothing =
      throw new IllegalArgumentException(s"unsupported MERGE action ${a.nodeName}")
    m.matchedActions.foreach {
      case a: UpdateAction => b.whenMatchedUpdate(set(a.assignments), cond(a))
      case a: UpdateStarAction => b.whenMatchedUpdateAll(cond(a))
      case a: DeleteAction => b.whenMatchedDelete(cond(a))
      case a => unsupported(a)
    }
    m.notMatchedActions.foreach {
      case a: InsertAction => b.whenNotMatchedInsert(set(a.assignments), cond(a))
      case a: InsertStarAction => b.whenNotMatchedInsertAll(cond(a))
      case a => unsupported(a)
    }
    m.notMatchedBySourceActions.foreach {
      case a: UpdateAction => b.whenNotMatchedBySourceUpdate(set(a.assignments), cond(a))
      case a: DeleteAction => b.whenNotMatchedBySourceDelete(cond(a))
      case a => unsupported(a)
    }
    val r = b.execute()
    metrics(spark, Seq("version", "rows_updated", "rows_deleted", "rows_inserted"),
      Seq(r.version, r.rowsUpdated, r.rowsDeleted, r.rowsInserted))
  }

  /** Assignment keys → target column names (a leading target alias
    * stripped); values → Columns.
    */
  private def assignments(as: Seq[Assignment], targetAlias: Option[String])
      : Map[String, Column] =
    as.map { a =>
      val name = a.key match {
        case UnresolvedAttribute(Seq(c)) => c
        case UnresolvedAttribute(Seq(q, c)) if targetAlias.exists(_.equalsIgnoreCase(q)) => c
        case k => throw new IllegalArgumentException(
          s"assignment target ${k.sql} is not a column of the target table")
      }
      name -> StreamShim.column(a.value)
    }.toMap

  // -------------------------------------------------------------- entry

  def run(spark: SparkSession, stmt: String): DataFrame = stmt match {
    case MergeKeysRe(tgt, view, keyList) =>
      val path = pathOf(spark, tgt)
      val keys = keyList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val staged = spark.table(view)
      // count BEFORE the commit: a view defined over the merge target
      // would otherwise report the post-merge state, not the batch
      val nStaged = staged.count()
      val v = VersionedTable.merge(staged, path, keys)
      metrics(spark, Seq("version", "rows_staged"), Seq(v, nStaged))
    case DmlRe(head, tgt, rest) =>
      runDml(spark, head, tgt, rest)
    case OptimizeRe(tgt, z, za, zb) =>
      val path = pathOf(spark, tgt)
      val v = VersionedTable.optimize(spark, path,
        zorderBy = if (z == null) None else Some((za, zb)))
      metrics(spark, Seq("version", "compacted"),
        Seq(v.getOrElse(VersionedTable.latestVersion(spark, path)),
          if (v.isDefined) 1L else 0L))
    case VacuumRe(tgt, r, n, unit) =>
      val path = pathOf(spark, tgt)
      val deleted =
        if (r == null) VersionedTable.vacuum(spark, path)
        else if (unit.equalsIgnoreCase("VERSIONS"))
          VersionedTable.vacuum(spark, path, retainVersions = n.toInt)
        else {
          // Delta's public spelling: keep every version committed within
          // the last n hours time-travelable (plus the state live AT the
          // cutoff), and files younger than n hours safe from the sweep
          val graceMs = n.toLong * 3600L * 1000L
          val cutoff = System.currentTimeMillis() - graceMs
          val latest = VersionedTable.latestVersion(spark, path)
          val atCutoff =
            try VersionedTable.versionAtTimestamp(spark, path, cutoff)
            catch { case e: RuntimeException
              if e.getMessage != null && e.getMessage.contains("no commit at or before") =>
              0L } // table younger than the window: retain everything
          VersionedTable.vacuum(spark, path,
            retainVersions = (latest - atCutoff + 1).toInt, graceMs = graceMs)
        }
      metrics(spark, Seq("files_deleted"), Seq(deleted.toLong))
    case HistoryRe(tgt) =>
      VersionedTable.history(spark, pathOf(spark, tgt))
    case ConvertRe(path) =>
      val v = VersionedTable.convert(spark, path)
      metrics(spark, Seq("version"), Seq(v))
    case DetailRe(tgt) =>
      VersionedTable.detail(spark, pathOf(spark, tgt))
    case AddConstraintRe(tgt, name, check) =>
      val v = VersionedTable.addConstraint(spark, pathOf(spark, tgt), name, check)
      metrics(spark, Seq("version"), Seq(v))
    case DropConstraintRe(tgt, name) =>
      val v = VersionedTable.dropConstraint(spark, pathOf(spark, tgt), name)
      metrics(spark, Seq("version"), Seq(v))
    case RestoreRe(tgt, v) =>
      val path = pathOf(spark, tgt)
      val nv = VersionedTable.restore(spark, path, v.toLong)
      metrics(spark, Seq("version", "restored_to"), Seq(nv, v.toLong))
    case TableVersionRe(tgt, v) if resolvable(spark, tgt) =>
      VersionedTable.readVersion(spark, pathOf(spark, tgt), v.toLong)
    case TableTimestampRe(tgt, ts) if resolvable(spark, tgt) =>
      VersionedTable.readTimestamp(spark, pathOf(spark, tgt), ts.toLong)
    case TableRe(tgt) if resolvable(spark, tgt) =>
      VersionedTable.read(spark, pathOf(spark, tgt))
    case CreateTableRe(ifNot, name, colDefs, partBy, location) =>
      runCreateTable(spark, ifNot != null, name, Option(colDefs),
        Option(partBy), Option(location))
    case DropTableRe(_, name)
        if GraftCatalog.resolve(spark, name).isDefined =>
      // REGISTERED names unregister here; anything else — including
      // DROP TABLE IF EXISTS on a Spark-managed/temp table — falls
      // through to spark.sql, which owns those drops
      GraftCatalog.drop(spark, name)
      metrics(spark, Seq("dropped"), Seq(1L))
    case ShowTablesRe() =>
      GraftCatalog.list(spark)
    case other =>
      spark.sql(other)
  }

  /** TABLE statements keep temp views working: a bare name not in the
    * catalog falls through to `spark.sql` instead of failing.
    */
  private def resolvable(spark: SparkSession, tgt: String): Boolean =
    tgt.startsWith("'") || GraftCatalog.resolve(spark, tgt).isDefined

  /** CREATE TABLE … USING graft (i36): registers `name` → location in the
    * catalog; when no versioned table exists at the location yet and a
    * column list is given, creates it EMPTY at version 0 with that schema
    * (the reference's CREATE TABLE IF NOT EXISTS … USING DELTA shape,
    * silver_transactions.py:21-52). Registering an EXISTING table
    * validates the declared columns against its schema, named.
    * Managed default location: `<warehouse>/graft/<name>`.
    */
  private def runCreateTable(spark: SparkSession, ifNotExists: Boolean,
      name: String, colDefs: Option[String], partBy: Option[String],
      location: Option[String]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val path = location.getOrElse {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      s"${wh.stripSuffix("/")}/graft/$name"
    }
    val declared = colDefs.map(d => StructType.fromDDL(d))
    if (!VersionedTable.exists(spark, path)) {
      val schema = declared.getOrElse(sys.error(
        s"CREATE TABLE $name: no versioned table at $path and no column " +
          "list to create one — declare (col type, …) or point LOCATION " +
          "at an existing table"))
      val parts = partBy.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      VersionedTable.create(empty, path, partitionBy = parts)
    } else declared.foreach { d =>
      val have = VersionedTable.snapshotAt(spark, path).schema
        .fields.map(f => f.name -> f.dataType).toMap
      val drift = d.fields.filter(f => !have.get(f.name).contains(f.dataType))
      require(drift.isEmpty,
        s"CREATE TABLE $name: declared columns " +
          s"${drift.map(_.name).mkString(", ")} do not match the existing " +
          s"table at $path — fix the declaration or drop the column list")
    }
    GraftCatalog.register(spark, name, path, ifNotExists)
    metrics(spark, Seq("version"),
      Seq(VersionedTable.latestVersion(spark, path)))
  }
}
