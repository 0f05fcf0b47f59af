package graft.operators

import graft.spec.MergeOptions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Merge (upsert) semantics as a pure DataFrame operator.
  *
  * Capability parity with the reference's Delta MERGE writer
  * (`lakehouse_engine/io/writers/delta_merge_writer.py:28-210`): matched
  * delete / matched update (full or per-column set, optionally predicated)
  * / not-matched insert (optionally insert_only). This environment ships
  * no Delta jars, so the engine expresses MERGE as two joins — a
  * left-outer join of the target with the source for the matched clauses
  * (every target row kept) and a left-anti join of the source against the
  * target for the insert clause — and the writers persist the result
  * transactionally (stage + rename commit).
  *
  * Scale notes: unlike a full-outer join, the left-outer join can
  * broadcast a small source (the CDC delta), so the target's rows are
  * scanned, never shuffled. The anti-join reads only the target columns
  * the condition names, and builds on them: broadcast when they are
  * small, shuffled otherwise. Merge conditions are written against struct
  * aliases `t` (target) and `s` (source); equality conditions on struct
  * fields are extracted by Catalyst as equi-join keys, so a source too
  * big to broadcast gives a shuffled hash or sort-merge join, never a
  * cartesian product.
  */
object MergeOps {

  /** Delta-style MERGE of `source` into `target` on key equality. */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateCondition: Option[Column] = None,
      updateSet: Map[String, Column] = Map.empty,
      deleteCondition: Option[Column] = None,
      insertCondition: Option[Column] = None,
      insertOnly: Boolean = false,
      insertSet: Map[String, Column] = Map.empty): DataFrame =
    mergeWithCondition(target, source,
      keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _),
      updateCondition, updateSet, deleteCondition, insertCondition, insertOnly,
      insertSet, equiKeys = Some(keys))

  /** MERGE from a declarative [[MergeOptions]] spec whose predicates use
    * the reference's `current.` / `new.` aliases. */
  def mergeWithOptions(target: DataFrame, source: DataFrame, opts: MergeOptions): DataFrame = {
    def tr(p: String): Column = expr(translateAliases(p))
    mergeWithCondition(target, source,
      tr(opts.mergePredicate),
      updateCondition = opts.updatePredicate.map(tr),
      updateSet = opts.updateColumnSet.map { case (c, e) => c -> tr(e) },
      deleteCondition = opts.deletePredicate.map(tr),
      insertCondition = opts.insertPredicate.map(tr),
      insertOnly = opts.insertOnly,
      insertSet = opts.insertColumnSet.map { case (c, e) => c -> tr(e) },
      equiKeys = equiKeysOf(opts.mergePredicate))
  }

  /** The one parser of a merge predicate's conjuncts: for a pure
    * AND-conjunction, one entry per conjunct — the column of a
    * same-column equality (`current.c = new.c` / `<=>`, either order),
    * None for any other conjunct — and None for a predicate with an OR.
    * Column names are lower-cased. */
  private[graft] def equalityConjuncts(predicate: String): Option[Seq[Option[String]]] = {
    val p = predicate.toLowerCase(java.util.Locale.ROOT)
    if (p.matches("(?s).*\\bor\\b.*")) return None
    val ident = "([a-z_][a-z0-9_]*)"
    val fwd = s"current\\.$ident\\s*(?:=|<=>)\\s*new\\.$ident".r
    val rev = s"new\\.$ident\\s*(?:=|<=>)\\s*current\\.$ident".r
    Some(p.split("\\band\\b").toSeq.map(_.trim.stripPrefix("(").stripSuffix(")").trim match {
      case fwd(a, b) if a == b => Some(a)
      case rev(a, b) if a == b => Some(a)
      case _ => None
    }))
  }

  /** When the merge predicate is PURELY a conjunction of same-column
    * equalities, the key list — the common CDC-upsert shape, which lets
    * the multiple-match guard run on the source side instead of the
    * joined set (see [[mergeWithCondition]]). Any OR, theta conjunct, or
    * cross-column equality yields None (guard falls back to the general
    * path). */
  private[operators] def equiKeysOf(predicate: String): Option[Seq[String]] =
    equalityConjuncts(predicate).collect {
      case keys if keys.forall(_.isDefined) => keys.flatten.distinct
    }

  /** Delta schema auto-merge (`spark.databricks.delta.schema.autoMerge
    * .enabled`, the conf the reference's schema-evolution acons set —
    * `tests/feature/test_schema_evolution.py`): align target and source
    * schemas before the merge.
    *
    *   - columns only in the SOURCE are appended to the target schema
    *     (pre-existing target rows read NULL for them);
    *   - columns only in the TARGET are kept — inserted rows read NULL,
    *     and an update-all (`UPDATE SET *`) keeps the target's value for
    *     them rather than nulling it out;
    *   - explicit update/insert column sets are left untouched (they name
    *     their assignments, evolution only widens the schema).
    *
    * Returns the merge inputs unchanged when the column sets already
    * agree (case-insensitive, matching Spark's default resolution).
    * Without auto-merge the engine keeps Delta's strict behavior: extra
    * source columns are silently ignored and a missing source column
    * fails the merge's analysis. */
  def evolveForAutoMerge(
      target: DataFrame,
      source: DataFrame,
      opts: MergeOptions): (DataFrame, DataFrame, MergeOptions) = {
    val tSet = target.columns.map(_.toLowerCase).toSet
    val sSet = source.columns.map(_.toLowerCase).toSet
    val added = source.columns.toSeq.filterNot(c => tSet(c.toLowerCase))
    val removed = target.columns.toSeq.filterNot(c => sSet(c.toLowerCase))
    if (added.isEmpty && removed.isEmpty) (target, source, opts)
    else {
      val target2 = added.foldLeft(target)((d, c) =>
        d.withColumn(c, lit(null).cast(source.schema(c).dataType)))
      val source2 = removed.foldLeft(source)((d, c) =>
        d.withColumn(c, lit(null).cast(target.schema(c).dataType)))
      val opts2 =
        if (removed.isEmpty || opts.insertOnly || opts.updateColumnSet.nonEmpty) opts
        else {
          // key by the TARGET's casing (updateSet lookups are exact-match)
          val tByLower = target.columns.map(c => c.toLowerCase -> c).toMap
          opts.copy(updateColumnSet = source.columns.toSeq
            .map(c => tByLower.getOrElse(c.toLowerCase, c) -> s"new.$c").toMap)
        }
      (target2, source2, opts2)
    }
  }

  /** Rewrite `current.x` / `new.x` references to the internal `t`/`s`
    * struct aliases. Quote-aware: occurrences inside single/double-quoted
    * string literals or backquoted identifiers (e.g. `status = 'new.pending'`)
    * are left untouched; word-boundary safe outside quotes. */
  private[operators] def translateAliases(predicate: String): String = {
    val sb = new StringBuilder(predicate.length)
    val n = predicate.length
    var i = 0
    var quote: Char = 0 // 0 = outside quotes; else the active quote char
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val c = predicate.charAt(i)
      if (quote != 0) {
        sb += c
        if (c == '\\' && i + 1 < n) { sb += predicate.charAt(i + 1); i += 1 }
        else if (c == quote) quote = 0
        i += 1
      } else if (c == '\'' || c == '"' || c == '`') {
        quote = c; sb += c; i += 1
      } else {
        val boundary = i == 0 || !isWordChar(predicate.charAt(i - 1))
        def at(kw: String): Boolean =
          boundary && predicate.regionMatches(true, i, kw, 0, kw.length)
        if (at("current.")) { sb ++= "t."; i += 8 }
        else if (at("new.")) { sb ++= "s."; i += 4 }
        else { sb += c; i += 1 }
      }
    }
    sb.toString
  }

  /** General MERGE on an arbitrary condition over `t`/`s` struct aliases.
    *
    * @param condition       match condition (use `col("t.k") === col("s.k")`)
    * @param updateCondition extra predicate for the matched-update clause
    * @param updateSet       columns to update on match (empty = all source)
    * @param deleteCondition matched rows satisfying this are dropped
    * @param insertCondition not-matched source rows must satisfy this
    * @param insertOnly      suppress all matched actions (append-new-only)
    * @param insertSet       columns to set on insert (empty = all source;
    *                        unnamed target columns become NULL, the
    *                        `whenNotMatchedInsert(values=...)` contract —
    *                        `io/writers/delta_merge_writer.py:91-105`)
    */
  def mergeWithCondition(
      target: DataFrame,
      source: DataFrame,
      condition: Column,
      updateCondition: Option[Column] = None,
      updateSet: Map[String, Column] = Map.empty,
      deleteCondition: Option[Column] = None,
      insertCondition: Option[Column] = None,
      insertOnly: Boolean = false,
      insertSet: Map[String, Column] = Map.empty,
      equiKeys: Option[Seq[String]] = None): DataFrame = {
    val dataCols = target.columns.toSeq
    val t = target.select(struct(dataCols.map(col): _*).as("t"))
    // the target schema is authoritative: source columns are cast to the
    // target's types, as Delta MERGE does under the default ANSI
    // storeAssignmentPolicy. Delta's ANSI store assignment FAILS on
    // un-castable values; plain Column.cast only does so when the session
    // runs ANSI (Spark 4's default) and silently nulls otherwise — the
    // raise_error guard keeps the fail-loud contract independent of the
    // session's ansi.enabled setting (same-type columns pass through
    // untouched, so the guard costs nothing on the common path).
    //
    // Like Delta, the cast is PER-CLAUSE, not per-row: only columns the
    // join CONDITION references are cast eagerly (the match itself needs
    // target-typed keys); every other column stays raw in the `s` struct
    // and is cast inside the branch that assigns it — a row destined for
    // the delete clause, or filtered out by the insert predicate, never
    // evaluates the guard for values those clauses don't use.
    val targetTypes = target.schema.map(f => f.name -> f.dataType).toMap
    val targetName = dataCols.map(c => c.toLowerCase -> c).toMap
    // source column type per TARGET column name (case-insensitive match)
    val sourceTypes = source.schema.flatMap(f =>
      targetName.get(f.name.toLowerCase).map(_ -> f.dataType)).toMap
    def guardedCast(src: Column, c: String): Column = {
      val tgtType = targetTypes(c)
      val casted = src.cast(tgtType)
      when(src.isNotNull && casted.isNull,
        raise_error(concat(
          lit(s"merge: cannot cast column '$c' value '"),
          src.cast("string"), lit(s"' to ${tgtType.sql}"))))
        .otherwise(casted)
    }
    val condRefs: Set[String] = org.apache.spark.sql.graft.ColumnRefs.names(condition)
    def eagerlyCast(c: String): Boolean =
      sourceTypes.get(c).contains(targetTypes(c)) || condRefs.contains(c)
    // `s` carries EVERY source column, so clause predicates can read
    // source-only columns (`new.op` where the target has no `op`), as in
    // Delta; target columns keep the target's name and, when the
    // condition reads them, the target's type
    val s = source.select(struct(source.schema.map { f =>
      targetName.get(f.name.toLowerCase) match {
        case Some(c) if f.dataType != targetTypes(c) && condRefs.contains(c) =>
          guardedCast(col(f.name), c).as(c)
        case Some(c) => col(f.name).as(c)
        case None => col(f.name).as(f.name)
      }
    }: _*).as("s"))
    // target-typed view of the source row, for the branches that assign it
    def sCast = struct(dataCols.map { c =>
      if (eagerlyCast(c)) col(s"s.$c").as(c)
      else guardedCast(col(s"s.$c"), c).as(c)
    }: _*)

    // insert_column_set: named columns take their expression (cast to the
    // target type, as Delta's store assignment would), unnamed columns are
    // NULL — not the source value
    val insertedStruct =
      if (insertSet.isEmpty) sCast
      else struct(dataCols.map { c =>
        insertSet.get(c).map(_.cast(targetTypes(c)))
          .getOrElse(lit(null).cast(targetTypes(c))).as(c)
      }: _*)

    // WHEN NOT MATCHED ... INSERT: source rows with no match, a left-anti
    // join against the target's condition columns
    val unmatched = s.join(t, condition, "left_anti")
    val inserted = insertCondition.fold(unmatched)(unmatched.where)
      .select(insertedStruct.as("r"))
    // insert-only: the target passes through untouched (no join at all),
    // which also makes multi-match trivially sound
    if (insertOnly) return target.unionAll(inserted.select(col("r.*")))

    // WHEN MATCHED: a left-outer join keeps every target row, paired with
    // its matching source rows (if any). Unlike a full-outer join it can
    // broadcast the source, so a CDC merge never shuffles the target.
    //
    // Multiple-match guard, mirroring Delta MERGE's runtime contract
    // (DeltaErrors.multipleSourceRowMatchingTargetRowInMergeException,
    // surfaced by the reference through `delta_merge_writer.py:110-139`):
    // a target row matched by more than one source row is non-deterministic
    // to update/delete, so the merge FAILS — except when the merge is an
    // unconditional delete (Delta's special case: deleting the same row
    // twice is idempotent).
    //
    // Cost model, in order:
    //  - unconditional delete: no guard, no window;
    //  - pure equi-key merge (the CDC-upsert hot path): per-key source
    //    multiplicity IS the per-target-row match count (a window
    //    partition groups NULL keys together, matching `<=>`; a NULL `=`
    //    key never matches), so `__n` is a window over the SOURCE ONLY,
    //    below the join — it moves just the source, never the target;
    //  - general theta condition: a count over the joined set keyed by a
    //    target-row id, above the join — one extra shuffle of the joined
    //    set, the price Delta pays in its own multiple-match detection.
    val unconditionalDelete =
      deleteCondition.exists(org.apache.spark.sql.graft.ColumnRefs.isTrueLiteral)
    val matched = col("s").isNotNull
    val joined = (equiKeys, unconditionalDelete) match {
      case (_, true) =>
        t.join(s, condition, "left_outer").withColumn("__n", lit(1L))
      case (Some(keys), _) =>
        val sw = s.withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(k => col(s"s.$k")): _*)))
        t.join(sw, condition, "left_outer")
      case (None, _) =>
        // __tid names the target row the count is per; only this path
        // pays for row identities
        t.withColumn("__tid", monotonically_increasing_id())
          .join(s, condition, "left_outer")
          .withColumn("__n", count(when(matched, lit(1))).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("__tid"))))
    }

    val updatedStruct =
      if (updateSet.isEmpty) sCast
      else struct(dataCols.map(c => updateSet.getOrElse(c, col(s"t.$c")).as(c)): _*)

    val matchedResult = {
      val afterUpdate = updateCondition match {
        case Some(u) => when(u, updatedStruct).otherwise(col("t"))
        case None => updatedStruct
      }
      deleteCondition match {
        case Some(d) => when(d, lit(null)).otherwise(afterUpdate)
        case None => afterUpdate
      }
    }

    val keep = when(matched && col("__n") > 1, raise_error(concat(
        lit("merge: "), col("__n").cast("string"),
        lit(" source rows matched the same target row; matched clauses" +
          " cannot be applied deterministically (Delta MERGE" +
          " multiple-source-row-match contract)"))))
      .when(matched, matchedResult)
      .otherwise(col("t"))

    joined.select(keep.as("r")).where(col("r").isNotNull)
      .unionAll(inserted).select(col("r.*"))
  }
}
