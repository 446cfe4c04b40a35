package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, max, min, when}

import VersionedTable.{AddFile, MetaPosCol, MetaRelCol}

/** Conditional MERGE (i34) — the full Delta MERGE clause semantics the
  * reference's centerpiece statements actually use
  * (4_silver/silver_transactions.py:124-176: `WHEN MATCHED AND (target.x
  * <> source.x OR …) THEN UPDATE SET is_current = false …` then a second
  * merge's `WHEN NOT MATCHED THEN INSERT`), where [[VersionedTable.merge]]
  * is the unconditional whole-row-upsert special case. Builder API shaped
  * like Delta's own `DeltaTable.merge`:
  *
  * {{{
  *   VersionedTable.mergeInto(spark, table, source,
  *       on = expr("t.id = s.id AND t.is_current = true"),
  *       targetAlias = "t", sourceAlias = "s")
  *     .whenMatchedUpdate(Map("is_current" -> lit(false)),
  *       condition = expr("t.v <> s.v"))
  *     .whenMatchedDelete(condition = expr("s.op = 'D'"))
  *     .whenNotMatchedInsert(Map("id" -> expr("s.id"), "v" -> expr("s.v")))
  *     .execute()
  * }}}
  *
  * Semantics (the public Delta contract):
  *  - clauses apply IN DECLARATION ORDER: the first clause whose
  *    condition holds (absent condition = always) takes the row; later
  *    clauses never see it;
  *  - a matched target row no clause claims passes through UNCHANGED —
  *    and a file none of whose matched rows take any action is untouched
  *    BYTES, not a pointless rewrite;
  *  - a target row MODIFIED by more than one source row fails named
  *    (Delta's multiple-match error: the update/delete would be
  *    ambiguous); join fan-out every clause leaves alone is legal — the
  *    row survives once — and insert-only merges tolerate fan-out
  *    (matches are simply not inserted);
  *  - WHEN NOT MATCHED conditions/values may reference only the source
  *    side (a target reference has no row to bind — fails analysis,
  *    named); unassigned insert columns land as typed NULLs;
  *  - NULL join keys never match (SQL join semantics): such target rows
  *    count as NOT MATCHED BY SOURCE (they survive untouched unless a
  *    BY SOURCE clause claims them), such source rows reach the insert
  *    clauses.
  *
  * Execution is the [[VersionedTable.merge]] copy-on-write discipline,
  * bounded at every stage:
  *  1. equi-conjuncts of `on` (`t.k = s.k`) are extracted from the
  *     ANALYZED condition; the source's per-key [min,max] is observed on
  *     the source checkpoint (the job that materializes it — no
  *     aggregation of its own, the key upsert's staging) and prunes the
  *     live file list through the log's i25 stats — an SCD2 merge of one
  *     day's keys plans ~one day's files;
  *  2. a key-metadata semi-join over the survivors finds files holding
  *     matches; ONE checkpointed join (target rows × matched source rows,
  *     action + post-image columns precomputed) feeds the cardinality
  *     check, the survivor/update/delete split, the rewrite file list and
  *     the CDF images — never a per-clause rescan;
  *  3. only files where some row ACTS are rewritten: unchanged rows as
  *     `dataChange=false` survivors, updated rows + inserts as new
  *     `dataChange=true` files (CHECK-constraint enforced, i33).
  *
  * Commit protocol: op `merge` when the merge purely INSERTED;
  * `merge_update` when it rewrote rows; `merge_delete` when it deleted.
  * The append face ([[VersionedTable.readChangesSince]]) serves `merge`
  * and `merge_update` commits as exactly the staged batch (dataChange
  * adds only — an updated key flows downstream as a new row version,
  * never retracted: Delta's `ignoreChanges` contract), and fails NAMED
  * on `merge_delete` (rows vanished — reconsume or read the CDF face);
  * [[VersionedTable.readChangeFeed]] serves the full sidecar images for
  * all three. The commit is the key upsert's ([[VersionedTable.merge]]):
  * decided against a snapshot, any concurrent non-vacuum commit fails
  * named. A merge where no row acts commits NOTHING (no version, no feed
  * breakage) and sweeps whatever it materialized.
  */
final class MergeIntoBuilder private[sources] (
    spark: SparkSession, table: String, source: DataFrame, on: Column,
    targetAlias: String, sourceAlias: String) {

  import MergeIntoBuilder._

  private var matched = Vector.empty[MatchedClause]
  private var notMatched = Vector.empty[InsertClause]
  private var bySource = Vector.empty[MatchedClause]

  /** WHEN MATCHED [AND condition] THEN UPDATE SET … — `set` maps target
    * column name → expression over both aliases; unnamed columns keep
    * their target value.
    */
  def whenMatchedUpdate(set: Map[String, Column],
      condition: Column = null): this.type = {
    require(set.nonEmpty, "UPDATE SET needs at least one assignment")
    matched :+= MatchedClause(Option(condition), Some(set)); this
  }

  /** WHEN MATCHED [AND condition] THEN UPDATE SET * — every target column
    * takes the same-named source column (Delta's `updateAll`).
    */
  def whenMatchedUpdateAll(condition: Column = null): this.type = {
    matched :+= MatchedClause(Option(condition), None); this
  }

  /** WHEN MATCHED [AND condition] THEN DELETE. */
  def whenMatchedDelete(condition: Column = null): this.type = {
    matched :+= MatchedClause(Option(condition), Some(Map.empty)); this
  }

  /** WHEN NOT MATCHED BY SOURCE [AND condition] THEN UPDATE SET … —
    * target rows with NO source match (Delta's sync-to-source face, e.g.
    * "expire everything the feed stopped sending"). `set`/`condition`
    * should reference the target alias only; source columns evaluate as
    * NULL for these rows (there is no source row to bind).
    */
  def whenNotMatchedBySourceUpdate(set: Map[String, Column],
      condition: Column = null): this.type = {
    require(set.nonEmpty, "UPDATE SET needs at least one assignment")
    bySource :+= MatchedClause(Option(condition), Some(set)); this
  }

  /** WHEN NOT MATCHED BY SOURCE [AND condition] THEN DELETE. */
  def whenNotMatchedBySourceDelete(condition: Column = null): this.type = {
    bySource :+= MatchedClause(Option(condition), Some(Map.empty)); this
  }

  /** WHEN NOT MATCHED [AND condition] THEN INSERT (cols) VALUES (…) —
    * `values` maps target column name → source-side expression;
    * unassigned columns insert as typed NULLs.
    */
  def whenNotMatchedInsert(values: Map[String, Column],
      condition: Column = null): this.type = {
    require(values.nonEmpty, "INSERT needs at least one column")
    notMatched :+= InsertClause(Option(condition), Some(values)); this
  }

  /** WHEN NOT MATCHED [AND condition] THEN INSERT * — every target column
    * from the same-named source column (Delta's `insertAll`).
    */
  def whenNotMatchedInsertAll(condition: Column = null): this.type = {
    notMatched :+= InsertClause(Option(condition), None); this
  }

  def execute(): MergeMetrics = {
    val VT = VersionedTable
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val base = VT.snapshotAt(spark, table)
    val schema = base.schema
    val fields = schema.fieldNames.toSeq
    // resolve UPDATE SET * / INSERT * and validate explicit column names
    // up front, named — not at write-time alignment depth
    val srcCols = source.columns.toSet
    matched.foreach {
      case MatchedClause(_, Some(set)) if set.nonEmpty =>
        val bad = set.keys.filterNot(fields.contains)
        require(bad.isEmpty,
          s"MERGE UPDATE SET targets absent columns: ${bad.mkString(", ")}")
      case MatchedClause(_, None) =>
        val missing = fields.filterNot(srcCols.contains)
        require(missing.isEmpty,
          s"MERGE UPDATE SET * needs every table column on the source; " +
            s"missing: ${missing.mkString(", ")}")
      case _ => ()
    }
    bySource.foreach {
      case MatchedClause(_, Some(set)) if set.nonEmpty =>
        val bad = set.keys.filterNot(fields.contains)
        require(bad.isEmpty,
          s"MERGE NOT MATCHED BY SOURCE UPDATE SET targets absent columns: " +
            bad.mkString(", "))
      case _ => ()
    }
    notMatched.foreach {
      case InsertClause(_, Some(values)) =>
        val bad = values.keys.filterNot(fields.contains)
        require(bad.isEmpty,
          s"MERGE INSERT targets absent columns: ${bad.mkString(", ")}")
      case InsertClause(_, None) =>
        val missing = fields.filterNot(srcCols.contains)
        require(missing.isEmpty,
          s"MERGE INSERT * needs every table column on the source; " +
            s"missing: ${missing.mkString(", ")}")
    }
    def setOf(c: MatchedClause): Map[String, Column] = c.set match {
      case Some(s) => s
      case None => fields.map(f => f -> col(s"$sourceAlias.$f")).toMap
    }
    def valuesOf(c: InsertClause): Map[String, Column] = c.values match {
      case Some(v) => v
      case None => fields.map(f => f -> col(s"$sourceAlias.$f")).toMap
    }

    // ---- stage 1: the source checkpoint also observes each ON equi
    // source column's [min,max] on the job that materializes it, and the
    // ranges prune the live file list through the log's stats
    val equiPairs = extractEquiPairs(spark, schema, source.schema, on,
      targetAlias, sourceAlias)
    val (src, _, ranges) = VT.stage(source, equiPairs.map(_._2),
      s"MERGE into $table: source key ranges")
    try {
      val candidates = VT.inKeyRanges(base.files, equiPairs.map(_._1).zip(ranges))

      // ---- stage 2: one checkpointed join over files holding matches
      val srcTagged = src.withColumn(MatchTag, lit(true)).alias(sourceAlias)
      // Files that may hold source MATCHES: equi-stats candidates
      // narrowed by one semi-join — the bounded discovery matched
      // clauses ride, also reused by the pruned by-source path below.
      lazy val matchHitFiles: Seq[AddFile] =
        VT.filesHit(spark, table, schema, candidates)(
          _.alias(targetAlias).join(src.alias(sourceAlias), on, "left_semi"))
      val hitFiles: Seq[AddFile] =
        if (bySource.nonEmpty) {
          // An UNCONDITIONAL NOT MATCHED BY SOURCE clause can act on ANY
          // unmatched target row, so it scans the whole table (the
          // Delta-documented cost of the sync-to-source shape). A clause
          // whose condition carries prunable TARGET-ONLY conjuncts
          // (partition bound, min/max range) can only act where they may
          // match, so files failing every clause's pruners hold no
          // actionable unmatched row and are skipped; files that may
          // hold source matches come back via the semi-join (their
          // matched rows run the WHEN MATCHED chain). r20/r21 verdict
          // ask #6, guide §6.
          val perClause: Seq[Seq[VT.Pruner]] = bySource.map(
            _.condition.fold(Seq.empty[VT.Pruner])(c =>
              VT.targetOnlyPruners(spark, base.schema, targetAlias, c)))
          if (perClause.exists(_.isEmpty)) base.files
          else {
            val byCond = base.files.filter(f =>
              perClause.exists(ps => ps.forall(p => VT.mayMatch(f, p))))
            val byCondPaths = byCond.map(_.path).toSet
            byCond ++ (if (matched.isEmpty) Nil
                       else matchHitFiles.filterNot(f => byCondPaths(f.path)))
          }
        }
        else if (matched.isEmpty) Nil
        else matchHitFiles

      val updActs = matched.zipWithIndex.filter(_._1.isUpdate)
        .map { case (c, i) => actName(c, i) } ++
        bySource.zipWithIndex.filter(_._1.isUpdate)
          .map { case (c, i) => bySourceActName(c, i) }
      val delActs = matched.zipWithIndex.filter(_._1.isDelete)
        .map { case (c, i) => actName(c, i) } ++
        bySource.zipWithIndex.filter(_._1.isDelete)
          .map { case (c, i) => bySourceActName(c, i) }
      val marked: Option[DataFrame] =
        if (hitFiles.isEmpty) None
        else {
          val tScan = VT.scanFiles(spark, table, hitFiles, schema,
            keepMeta = true).alias(targetAlias)
          val joined = tScan.join(srcTagged, on, "left_outer")
          val isMatch = col(MatchTag).isNotNull
          // first-true-clause dispatch; unclaimed = Keep. Matched rows
          // run the WHEN MATCHED chain, unmatched rows the NOT MATCHED
          // BY SOURCE chain (source columns are NULL there — no row)
          val act = matched.zipWithIndex.reverse.foldLeft(lit(Keep)) {
            case (rest, (c, i)) =>
              when(c.condition.getOrElse(lit(true)), lit(actName(c, i)))
                .otherwise(rest)
          }
          val actBySource = bySource.zipWithIndex.reverse.foldLeft(lit(Keep)) {
            case (rest, (c, i)) =>
              when(c.condition.getOrElse(lit(true)), lit(bySourceActName(c, i)))
                .otherwise(rest)
          }
          // post-image values for every field, dispatched on the SAME
          // action column (computed BEFORE the checkpoint collapses the
          // aliases — duplicate names become unambiguous __gf_ columns)
          val updIdx = matched.zipWithIndex.filter(_._1.isUpdate)
            .map { case (c, i) => (c, actName(c, i)) } ++
            bySource.zipWithIndex.filter(_._1.isUpdate)
              .map { case (c, i) => (c, bySourceActName(c, i)) }
          val postCols = fields.map { f =>
            updIdx.reverse.foldLeft(col(s"$targetAlias.$f")) {
              case (rest, (c, a)) =>
                when(col(ActCol) === a,
                  setOf(c).getOrElse(f, col(s"$targetAlias.$f"))).otherwise(rest)
            }.as(s"__gf_u_$f")
          }
          val proj = joined
            .withColumn(ActCol,
              when(isMatch, act).otherwise(actBySource))
            .select(Seq(col(s"$targetAlias.$MetaRelCol").as(MetaRelCol),
              col(s"$targetAlias.$MetaPosCol").as(MetaPosCol),
              col(ActCol)) ++
              fields.map(f => col(s"$targetAlias.$f").as(s"__gf_t_$f")) ++
              postCols: _*)
          Some(proj.localCheckpoint())
        }
      try {
        var nUpdated = 0L; var nDeleted = 0L
        var removeFiles = Seq.empty[AddFile]
        marked.foreach { m =>
          // ONE collect decides the rewrite: acted rows per physical row
          // (file, pos), then one row per (file, action) carrying its
          // distinct-row count and the row's largest acted-row count.
          // Partitioned by file, both groupings ride one shuffle.
          val perFileAct = m.filter(col(ActCol) =!= Keep)
            .repartition(col(MetaRelCol))
            .groupBy(col(MetaRelCol), col(MetaPosCol))
            .agg(min(col(ActCol)).as(ActCol), count(lit(1)).as("n"))
            .groupBy(col(MetaRelCol), col(ActCol))
            .agg(count(lit(1)).as("rows"), max(col("n")).as("n"))
            .collect().map(r => FileAct(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
          // Delta's multiple-match error — on rows multiple source rows
          // would actually MODIFY (update/delete), not on mere join
          // fan-out: a fanned-out row every clause leaves alone is legal
          // (nothing ambiguous is written). Delta's one further
          // exception holds too: a SINGLE UNCONDITIONAL DELETE clause
          // tolerates fan-out (deleting a row twice is the same delete
          // — nothing ambiguous), so a dedupe-free delete-merge that
          // runs on Delta runs here.
          // (bySource clauses are irrelevant here: unmatched target
          // rows join exactly once and can never fan out)
          val soleUnconditionalDelete = matched.size == 1 &&
            matched.head.isDelete && matched.head.condition.isEmpty
          if (!soleUnconditionalDelete) {
            perFileAct.find(_.maxMatches > 1).foreach(d => throw new IllegalArgumentException(
              s"MERGE into $table: a target row of ${d.file} is modified by " +
                s"multiple source rows (${d.maxMatches}) — " +
                "the update/delete is ambiguous; dedupe the source on the join keys"))
          }
          // counts over DISTINCT physical rows: a fan-out-tolerated
          // delete must report each deleted row once
          def rowsOf(acts: Seq[String]) =
            perFileAct.filter(r => acts.contains(r.act)).map(_.rows).sum
          nUpdated = rowsOf(updActs)
          nDeleted = rowsOf(delActs)
          // only files where some row ACTS rewrite; the rest stay bytes
          val rewrite = perFileAct.map(_.file).toSet
          removeFiles = hitFiles.filter(f => rewrite.contains(f.path))
        }

        // op records what the merge did: deletes break append-only
        // consumption (merge_delete fails the append feed named);
        // rewrites flow through it as the staged batch (merge_update);
        // a pure-insert merge commits plain 'merge'
        val op = if (nDeleted > 0) "merge_delete"
          else if (nUpdated > 0) "merge_update" else "merge"
        var nInserted = 0L
        val committed = VT.commitRewrite(spark, table, op, base.version, "merge") { orphans =>
          var cdcFrames = Seq.empty[DataFrame]
          val rewritten: Seq[AddFile] = if (removeFiles.isEmpty) Nil else marked.toSeq.flatMap { m =>
            import spark.implicits._
            val rewriteDf = removeFiles.map(_.path).toDF(MetaRelCol)
            val inRewrite = m.join(broadcast(rewriteDf), MetaRelCol)
            val tCols = fields.map(f => col(s"__gf_t_$f").as(f))
            val uCols = fields.map(f => col(s"__gf_u_$f").as(f))
            // survivors = target rows NO source row modified, ONCE each:
            // join fan-out duplicates keep-rows (dropDuplicates on the
            // physical row coordinate), and a row one match keeps but
            // another modifies belongs to the acting side only
            val actedRows = inRewrite.filter(col(ActCol) =!= Keep)
              .select(col(MetaRelCol), col(MetaPosCol)).distinct()
            val survivors = inRewrite.filter(col(ActCol) === Keep)
              .join(actedRows, Seq(MetaRelCol, MetaPosCol), "left_anti")
              .dropDuplicates(MetaRelCol, MetaPosCol)
              .select(tCols: _*)
            val survivorAdds = orphans.track(
              VT.writeData(survivors, table, schema, base.partitionBy))
              .filter(_.rows > 0).map(_.copy(dataChange = false))
            val changedAdds =
              if (nUpdated == 0) Nil
              else VT.writeDataEnforced(inRewrite.filter(col(ActCol).isin(updActs: _*))
                .dropDuplicates(MetaRelCol, MetaPosCol).select(uCols: _*),
                table, schema, base.partitionBy, base.constraints, orphans)
                .filter(_.rows > 0)
            if (base.changeFeed) {
              // one image per PHYSICAL row (fan-out-tolerated deletes
              // would otherwise double their preimages)
              val acted = inRewrite.filter(col(ActCol) =!= Keep)
                .dropDuplicates(MetaRelCol, MetaPosCol)
              if (nUpdated > 0) {
                val pre = acted.filter(col(ActCol).isin(updActs: _*))
                cdcFrames :+= pre.select(tCols: _*)
                  .withColumn(VT.ChangeTypeCol, lit("update_preimage"))
                cdcFrames :+= pre.select(uCols: _*)
                  .withColumn(VT.ChangeTypeCol, lit("update_postimage"))
              }
              if (nDeleted > 0)
                cdcFrames :+= acted.filter(col(ActCol).isin(delActs: _*))
                  .select(tCols: _*)
                  .withColumn(VT.ChangeTypeCol, lit("delete"))
            }
            survivorAdds ++ changedAdds
          }

          // ---- inserts: source rows with no match anywhere in the table.
          // The anti-join runs over the CANDIDATE files only — stage-1
          // pruning is sound for matching (a match requires the equi
          // conjuncts, and the source's key range covers its own rows), so
          // a source row matching a pruned file cannot exist.
          val insertAdds =
            if (notMatched.isEmpty) Nil
            else {
              val tAnti = VT.scanFiles(spark, table, candidates, schema)
                .alias(targetAlias)
              val anti = src.alias(sourceAlias).join(tAnti, on, "left_anti")
              val iact = notMatched.zipWithIndex.reverse
                .foldLeft(lit(null).cast("string")) { case (rest, (c, i)) =>
                  when(c.condition.getOrElse(lit(true)), lit(s"i$i")).otherwise(rest)
                }
              val withAct = anti.withColumn(ActCol, iact)
                .filter(col(ActCol).isNotNull)
              val insRows = withAct.select(fields.map { f =>
                notMatched.zipWithIndex.reverse.foldLeft(
                  lit(null).cast(schema(f).dataType)) { case (rest, (c, i)) =>
                  when(col(ActCol) === s"i$i",
                    valuesOf(c).getOrElse(f, lit(null).cast(schema(f).dataType)))
                    .otherwise(rest)
                }.as(f)
              }: _*)
              VT.writeDataEnforced(insRows, table, schema, base.partitionBy,
                base.constraints, orphans).filter(_.rows > 0)
            }
          if (base.changeFeed && insertAdds.nonEmpty)
            cdcFrames :+= VT.scanFiles(spark, table, insertAdds, schema)
              .withColumn(VT.ChangeTypeCol, lit("insert"))
          nInserted = insertAdds.map(_.rows).sum

          // nothing acted: commit NOTHING (no version, no feed breakage)
          if (nUpdated + nDeleted + nInserted == 0) None
          else Some(VT.Rewrite(removeFiles, rewritten ++ insertAdds,
            if (!base.changeFeed || cdcFrames.isEmpty) Nil
            else orphans.track(VT.writeCdc(cdcFrames.reduce(_.unionByName(_)), table))))
        }
        MergeMetrics(committed.getOrElse(base.version), committed.isDefined,
          nUpdated, nDeleted, nInserted, hitFiles.size)
      } finally { marked.foreach(_.unpersist()); () }
    } finally { src.unpersist(); () }
  }
}

object MergeIntoBuilder {
  private val MatchTag = "__gf_s_match"
  private val ActCol = "__gf_act"
  private val Keep = "keep"

  private[sources] final case class MatchedClause(condition: Option[Column],
      set: Option[Map[String, Column]]) {
    def isDelete: Boolean = set.contains(Map.empty)
    def isUpdate: Boolean = !isDelete
  }
  private[sources] final case class InsertClause(condition: Option[Column],
      values: Option[Map[String, Column]])

  /** One (file, action) group of a merge's acted rows: its distinct rows
    * and the most source rows acting on any one of them.
    */
  private final case class FileAct(file: String, act: String, rows: Long,
      maxMatches: Long)

  private def actName(c: MatchedClause, i: Int): String =
    if (c.isDelete) s"d$i" else s"u$i"

  private def bySourceActName(c: MatchedClause, i: Int): String =
    if (c.isDelete) s"sd$i" else s"su$i"

  /** MERGE metrics (Delta's operationMetrics shape): `version` is the
    * committed version, or the unchanged base version when `committed`
    * is false (the no-row-acted no-op — nothing was written to the log).
    * `targetFilesScanned` is the number of target files the merge's
    * rewrite scan planned (after stats pruning), on both paths.
    */
  final case class MergeMetrics(version: Long, committed: Boolean,
      rowsUpdated: Long, rowsDeleted: Long, rowsInserted: Long,
      targetFilesScanned: Int)

  /** Equi-conjunct pairs (targetCol, sourceCol) of `on`, each side's
    * column found BY NAME in its schema: `alias.col`, or a bare `col` that
    * only one side has. A pair needs the same type on both sides (no
    * implicit cast between the key and its stats). Null-safe equality
    * (`<=>`) is deliberately NOT extracted: it matches null keys, which
    * min/max stats cannot bound.
    */
  private def extractEquiPairs(spark: SparkSession,
      targetSchema: org.apache.spark.sql.types.StructType,
      sourceSchema: org.apache.spark.sql.types.StructType,
      on: Column, targetAlias: String, sourceAlias: String): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
    val same = spark.sessionState.conf.resolver
    // (isTarget, field) of a one- or two-part column name
    def side(parts: Seq[String]): Option[(Boolean, org.apache.spark.sql.types.StructField)] = {
      def in(s: org.apache.spark.sql.types.StructType, n: String) =
        s.fields.find(f => same(f.name, n))
      parts match {
        case Seq(a, c) if same(a, targetAlias) => in(targetSchema, c).map(true -> _)
        case Seq(a, c) if same(a, sourceAlias) => in(sourceSchema, c).map(false -> _)
        case Seq(c) => (in(targetSchema, c), in(sourceSchema, c)) match {
          case (Some(t), None) => Some(true -> t)
          case (None, Some(s)) => Some(false -> s)
          case _ => None
        }
        case _ => None
      }
    }
    // `expr` strings parse to And/EqualTo; Column operators (`&&`, `===`)
    // arrive as the unresolved functions `and` and `=`
    def call(e: Expression, name: String): Option[Seq[Expression]] = e match {
      case f: UnresolvedFunction if f.nameParts == Seq(name) && f.arguments.size == 2 =>
        Some(f.arguments)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case _ => call(e, "and").fold(Seq(e))(_.flatMap(conjuncts))
    }
    def operands(e: Expression): Option[Seq[Expression]] = e match {
      case EqualTo(l, r) => Some(Seq(l, r))
      case _ => call(e, "=")
    }
    conjuncts(org.apache.spark.sql.graft.StreamShim.expression(spark, on)).flatMap(operands).flatMap {
      case Seq(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        (side(a.nameParts), side(b.nameParts)) match {
          case (Some((true, t)), Some((false, s))) if VersionedTable.sameType(t.dataType, s.dataType) =>
            Some((t.name, s.name))
          case (Some((false, s)), Some((true, t))) if VersionedTable.sameType(t.dataType, s.dataType) =>
            Some((t.name, s.name))
          case _ => None
        }
      case _ => None
    }
  }
}
