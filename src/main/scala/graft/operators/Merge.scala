package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed merge (CDC upsert/delete) — the operator that keeps a 100 TB
  * curated table current: a base snapshot plus a (much smaller) batch
  * of changed rows and tombstones, latest version per key wins. The
  * classic copy-on-write merge a lakehouse table format performs on
  * write, expressed as a plain dataflow so it composes with the rest
  * of the engine.
  */
object Merge {

  /** Column name a tombstone-keeping merge carries on its output (and
    * accepts on its base): true marks a key whose latest change is a
    * delete. Persisting the flag is what makes sequential batch
    * application equal a single global latest-wins replay — a table
    * that physically dropped the row would let a LATER-arriving but
    * LOWER-versioned update resurrect the key.
    */
  val TombstoneCol = "__tombstone"

  /** Latest-wins upsert of `updates` into `base`: one row per key,
    * ordered by `versionCol` descending with `updates` beating `base`
    * on exact ties (the CDC convention — a correction that does not
    * advance the version must still apply). Schemas must match by
    * name.
    *
    * Shape: union → one shuffle on the key → per-key top-1 via
    * row_number (partial ordering inside the shuffle's sort, no global
    * sort). Spark 4 plans the rn=1 filter as WindowGroupLimit on BOTH
    * sides of the exchange — each map task keeps only its local top-1
    * per key before shuffling, so a key updated many times ships one
    * row, not its history (plan-asserted: exactly one key-partitioned
    * Exchange). A Union discards its children's partitioning, so this
    * shape always shuffles the base. Deletes ride [[applyChanges]]'
    * tombstone path.
    */
  def upsertLatest(
      base: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String): DataFrame =
    // the empty-deletes union child is pruned by the optimizer
    // (limit-0 → empty LocalRelation → PropagateEmptyRelation), so the
    // physical plan is identical to a two-way merge
    applyChanges(base, updates,
      base.limit(0).select((keyCols :+ versionCol).map(col): _*),
      keyCols, versionCol)

  /** Additive fold of a delta's per-key partial aggregates into a
    * maintained aggregate-state table — incremental MATERIALIZED-VIEW
    * maintenance for the sum/count family: after every fold the state
    * equals the one-shot aggregate over all data ever folded, but each
    * fold touches only the delta plus one join against the state.
    *
    * `base` and `deltaAgg` share the schema `keyCols ++ additive
    * columns`; the fold is a null-safe full-outer join on the keys with
    * column-wise addition (typed zero for the side missing a key; a
    * group whose partials are NULL on BOTH sides stays NULL, matching
    * SQL's sum over an all-null group), cast
    * back to the base column's type so the state schema is FIXED across
    * folds (size the decimal for the lifetime total, not the delta).
    * avg/stddev derive from (sum, count) states; min/max fold the same
    * way with `greatest`/`least` — not provided here because they are
    * not retractable.
    *
    * Scale shape: the lone data-sized cost is aggregating the delta
    * BEFORE the fold (caller does it, so the partial agg fuses with the
    * delta scan); the join is state-sized. The keys join with `<=>`,
    * so a NULL key (e.g. day-of-null-timestamp) stays ONE state group
    * across folds; Spark plans null-safe keys as derived (coalesce,
    * isnull) pairs, which a key-bucketed layout cannot satisfy, so the
    * state side shuffles too.
    */
  def foldAdditive(
      base: DataFrame,
      deltaAgg: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(base.columns.sorted.sameElements(deltaAgg.columns.sorted),
      s"state/delta schemas differ: ${base.columns.mkString(",")} vs " +
        deltaAgg.columns.mkString(","))
    val addCols = base.columns.filterNot(keyCols.contains).toSeq
    val b = base.as("b")
    val d = deltaAgg
      .select(keyCols.map(col) ++ addCols.map(c => col(c).as(s"__d_$c")): _*)
      .as("d")
    val cond = keyCols.map(k => col(s"b.$k") <=> col(s"d.$k")).reduce(_ && _)
    b.join(d, cond, "full_outer").select(
      keyCols.map(k => coalesce(col(s"b.$k"), col(s"d.$k")).as(k)) ++
        addCols.map { c =>
          val t = base.schema(c).dataType
          val zero = lit(0).cast(t)
          // both-NULL stays NULL: SQL sum over an all-null group is NULL,
          // and the fold must equal the one-shot aggregate — substituting
          // the typed zero is only correct when at least one side carries
          // a real partial (a NULL partial folded with a real one drops
          // out, exactly like sum ignoring nulls)
          when(col(s"b.$c").isNull && col(s"__d_$c").isNull,
            lit(null).cast(t))
            .otherwise(
              (coalesce(col(s"b.$c"), zero) + coalesce(col(s"__d_$c"), zero))
                .cast(t)).as(c)
        }: _*)
  }

  /** Latest-wins merge of `updates` AND `deletes` into `base`. A
    * delete is (key, version) — it wins the key iff no update/base row
    * carries a higher version, beating data rows on exact version ties
    * (a retraction issued at the version it retracts must apply).
    *
    * `deletes` carries at least `keyCols :+ versionCol`; any further
    * column it carries (e.g. a partitioned table's partition column)
    * is carried onto the persisted tombstone row rather than padded
    * null, so a direct reader or partition-pruning scan can still
    * attribute the tombstone to its partition. With
    * `keepTombstones = true` the winner rows INCLUDE deleted keys,
    * flagged by [[TombstoneCol]] (payload columns null) — the form a
    * versioned table persists so late lower-versioned changes cannot
    * resurrect a deleted key (see [[graft.streaming.ParquetUpsertTable]]);
    * `base` may itself carry the flag from a previous merge. With
    * `keepTombstones = false` (default) deleted keys are dropped from
    * the output. Tombstones accumulate one row per deleted key; at
    * 100 TB, purge those older than the pipeline's max change lateness
    * during periodic compaction (they are a filter, not a merge cost —
    * one boolean column through the same single shuffle).
    *
    * `updates` must carry exactly the base's columns: update rows
    * replace the WHOLE row, so a frame MISSING a base column is refused
    * (partial updates are a different operator), and so is one carrying
    * a column the base lacks (the table schema is fixed).
    */
  def applyChanges(
      base: DataFrame,
      updates: DataFrame,
      deletes: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      keepTombstones: Boolean = false): DataFrame = {
    require(!(base.columns ++ updates.columns ++ deletes.columns)
      .exists(c => c == "__src" || c == "__rn"),
      "applyChanges reserves __src/__rn as working columns")
    require(!updates.columns.contains(TombstoneCol) &&
      !deletes.columns.contains(TombstoneCol),
      s"$TombstoneCol is engine-managed; only base may carry it")
    val missingFromUpdates = base.columns
      .filterNot(c => c == TombstoneCol || updates.columns.contains(c))
    require(missingFromUpdates.isEmpty,
      s"updates must carry every base column (full-row replacement); " +
        s"missing: ${missingFromUpdates.mkString(", ")}")
    val newCols = updates.columns.filterNot(base.columns.contains)
    require(newCols.isEmpty,
      s"updates carry columns absent from base: ${newCols.mkString(", ")}")
    val b0 =
      if (base.columns.contains(TombstoneCol)) base
      else base.withColumn(TombstoneCol, lit(false))
    val dataFields = b0.schema.fields.filterNot(_.name == TombstoneCol).toSeq
    // pad tombstones to the table schema: key + version (and any other
    // column the deletes frame carries, e.g. a partition column)
    // carried; remaining payload columns null — they never surface
    // unless keepTombstones. Keys/version stay unconditional so a
    // deletes frame MISSING one fails resolution instead of silently
    // padding a null key.
    val delPadded = deletes.select(dataFields.map { f =>
      if (keyCols.contains(f.name) || f.name == versionCol ||
          deletes.columns.contains(f.name))
        col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*).withColumn(TombstoneCol, lit(true))
    val unioned = b0.withColumn("__src", lit(0))
      .unionByName(updates.withColumn(TombstoneCol, lit(false))
        .withColumn("__src", lit(1)))
      .unionByName(delPadded.withColumn("__src", lit(2)))
    // full deterministic order: after (version, tombstone, source),
    // ties — two change rows for one key at the SAME version in one
    // batch — are broken by the remaining columns, so a replayed batch
    // reproduces the identical winner (UpsertSink's exactly-once
    // rewrite depends on this; a bare (version, src) order left the
    // survivor to shuffle arrival order). Non-orderable columns
    // (MapType payloads) can't sit in an ORDER BY — stand in a content
    // hash of their JSON rendering, which preserves the
    // replay-determinism guarantee (equal content → equal rank).
    val tieExprs = dataFields
      .filterNot(f => keyCols.contains(f.name) || f.name == versionCol)
      .map { f =>
        if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
          col(f.name).desc
        else xxhash64(to_json(struct(col(f.name)))).desc
      }
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(versionCol).desc +: col(TombstoneCol).desc +:
        col("__src").desc +: tieExprs): _*)
    val merged = unioned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
    if (keepTombstones) merged
    else merged.filter(!col(TombstoneCol)).drop(TombstoneCol)
  }

  /** Change-data-feed between two snapshots of a keyed table (the
    * lakehouse `table_changes` read): full-outer join on the keys, one
    * row per changed key with `change_type` ∈ insert/update/delete and
    * every non-key column twice (`<c>_before`, `<c>_after`). Unchanged
    * keys (all non-key columns null-safely equal) are dropped.
    * Schemas must agree on the non-key columns.
    *
    * Scale: ONE key shuffle per side (none at all when both snapshots
    * are read from a key-bucketed layout); change detection is a codegen'd null-safe conjunction,
    * no per-column joins. Feed it `snapshotAt(v1)` / `snapshotAt(v2)`
    * of a [[graft.streaming.ParquetUpsertTable]] to answer "what did
    * batches v1+1..v2 do to the table" without replaying them.
    */
  def diffSnapshots(
      before: DataFrame,
      after: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val valCols = after.columns.filterNot(keyCols.contains).toSeq
    require(before.columns.filterNot(keyCols.contains).toSeq == valCols,
      "diffSnapshots: before/after non-key columns must match " +
        s"(${before.columns.mkString(",")} vs ${after.columns.mkString(",")})")
    // presence markers survive the outer join where data columns can be
    // legitimately null
    val b = before.select(
      keyCols.map(col) ++ valCols.map(c => col(c).as(s"${c}_before")) :+
        lit(true).as("__b"): _*)
    val a = after.select(
      keyCols.map(col) ++ valCols.map(c => col(c).as(s"${c}_after")) :+
        lit(true).as("__a"): _*)
    val changed = valCols
      .map(c => !(col(s"${c}_before") <=> col(s"${c}_after")))
      .reduceOption(_ || _).getOrElse(lit(false))
    b.join(a, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__b").isNull, lit("insert"))
          .when(col("__a").isNull, lit("delete"))
          .when(changed, lit("update"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .drop("__b", "__a")
  }
}
