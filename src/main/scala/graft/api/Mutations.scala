package graft.api

import graft.api.QueryBuilder.BoolExp
import graft.sources.{AtomicSwap, SnapshotStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The WRITE half of the query front end — the reference's mutation
  * surface: Hasura auto-generates `insert_<table>` / `update_<table>` /
  * `delete_<table>` mutations over the same tracked tables
  * (/root/reference/README.md:68-70 discusses granting exactly these),
  * and the reference grants them to its indexer role. Here a mutation
  * compiles to the engine's existing snapshot machinery — each one is a
  * latest-wins [[graft.sources.SnapshotStore.merge]] delta (upserts for
  * insert/update, tombstones for delete), so the write path exercises
  * the SAME merge the CDC fold and streaming sinks use, not a parallel
  * code path.
  *
  * Execution is per-mutation-field, in document order (Hasura's
  * sequential semantics), and each returns its `affected_rows`.
  * Returning the count is inherently an action, so mutation execution
  * is eager — the read path stays fully lazy, and a mutation request
  * (a handful of fields, Hasura's shape) pays one bounded merge +
  * count per field.
  *
  * Scale posture: a merge is one union + one window shuffle on the key
  * — O(|snapshot| + |delta|), the documented S4/S8 shape; the delta is
  * built from a FILTER of the snapshot (update/delete) or literal rows
  * (insert), so nothing here adds an operator the streaming upsert
  * path doesn't already have. Store-level application rewrites through
  * [[graft.sources.AtomicSwap]], so readers never see a half-written
  * snapshot and a crash mid-write is recoverable.
  */
object Mutations {

  sealed trait Mutation { def table: String }

  /** `insert_<table>(objects: [...])`. Literal rows; columns absent
    * from an object land as null (Hasura's column-default behavior for
    * a store with no DDL defaults). Conflict policy, one of:
    *  - default: plain insert — rows whose key already exists REJECT
    *    loudly (Hasura's unique-violation error);
    *  - `upsert = true`: whole-row overwrite on conflict;
    *  - `updateColumns = Some(cols)`: Hasura's `on_conflict:
    *    {update_columns: [...]}` — on conflict, ONLY the listed
    *    columns take the incoming object's values, the rest keep their
    *    stored values; `Some(Nil)` is DO NOTHING (conflicts skipped,
    *    not counted in affected_rows, per Hasura).
    *
    * `conflictWhere` (r18) is Hasura's CONDITIONAL upsert —
    * `on_conflict: {..., where: {...}}`: the update applies only
    * where the predicate holds on the EXISTING (stored) row; a
    * clashing row failing it is skipped entirely (not written, not
    * counted — Postgres `ON CONFLICT DO UPDATE ... WHERE`). The
    * predicate is column-only (it evaluates row-locally on the
    * snapshot). */
  final case class Insert(table: String, rows: Seq[Seq[(String, Any)]],
      upsert: Boolean = false,
      updateColumns: Option[Seq[String]] = None,
      conflictWhere: Option[BoolExp] = None) extends Mutation {
    require(rows.nonEmpty, s"insert_$table: objects is empty")
    require(!(upsert && updateColumns.isDefined),
      s"insert_$table: upsert and update_columns are alternative " +
        "conflict policies — pick one")
    require(conflictWhere.isEmpty || updateColumns.exists(_.nonEmpty),
      s"insert_$table: on_conflict.where needs update_columns — " +
        "there is no update to condition otherwise")
  }

  /** Hasura's NESTED insert (`objects: [{..., <rel>: {data: ...}}]`),
    * RECURSIVE to arbitrary depth (r18): `children` are the ARRAY
    * relationship subtrees — each an [[Insert]] or a nested
    * [[InsertTree]] — inserted AFTER the parent rows with the foreign
    * key already stitched from their parent object's key; `before`
    * are the OBJECT-relationship (parent-side) subtrees inserted
    * BEFORE the parent rows, whose keys the parent rows' FK columns
    * reference (Hasura's own insert order — the row carrying the FK
    * lands after the row it points at). All stitching happens at
    * parse time — every referenced key must appear literally, so no
    * read-back is needed and the whole tree stays one request
    * payload. One GraphQL field, one `affected_rows` counting EVERY
    * level (Hasura's own accounting); `returning` serves the ROOT
    * rows. Spans tables, so it executes only through the store
    * REGISTRY ([[applyFieldsToStores]]) — the single-snapshot path
    * rejects it loudly. Every node keeps its own conflict policy
    * (Hasura nests `on_conflict` per relationship object). */
  final case class InsertTree(parent: Insert,
      children: Seq[Mutation] = Nil,
      before: Seq[Mutation] = Nil) extends Mutation {
    def table: String = parent.table
    require(children.nonEmpty || before.nonEmpty,
      s"insert_${parent.table}: a nested insert with no related rows " +
        "should be a plain Insert")
    private def insertLike(m: Mutation): Boolean = m match {
      case _: Insert | _: InsertTree => true
      case _ => false
    }
    require((children ++ before).forall(insertLike),
      s"insert_${parent.table}: nested-insert nodes must be inserts")
  }

  /** `update_<table>(where: ..., _set: {...}, _inc: {...})`, plus
    * Hasura's JSONB operator family over JSON-text columns (r18):
    * `jsonb` carries `_append`/`_prepend`/`_delete_key`/
    * `_delete_elem`/`_delete_at_path` entries as (column, op) pairs
    * — semantics in [[graft.functions.JsonbOps]]. */
  final case class Update(table: String, where: BoolExp,
      set: Seq[(String, Any)], inc: Seq[(String, Any)] = Nil,
      jsonb: Seq[(String, graft.functions.JsonbOps.Op)] = Nil)
      extends Mutation {
    require(set.nonEmpty || inc.nonEmpty || jsonb.nonEmpty,
      s"update_$table: needs _set and/or _inc (or a jsonb operator)")
    // Hasura rejects a column in TWO operators — a silent
    // set-then-rewrite would write an order-dependent value. Every
    // jsonb ENTRY is its own operator (two different jsonb ops on one
    // column are exactly as order-dependent as _set + _append).
    private val groups = Seq(set.map(_._1).distinct,
      inc.map(_._1).distinct) ++ jsonb.map(e => Seq(e._1))
    private val dup = groups.flatten
      .groupBy(identity).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"update_$table: column(s) " +
      s"${dup.mkString(", ")} appear in more than one update operator")
  }

  /** Hasura's `update_<table>_many(updates: [{where, _set, _inc},
    * ...])` — several updates against ONE table in ONE field, applied
    * SEQUENTIALLY (a later update sees every earlier one's writes —
    * Hasura's own in-transaction order; two updates matching the same
    * row compose, last writer per column). The response is per-update
    * ([[FieldResult.perStep]], mirroring Hasura's list of
    * mutation_response objects); `affected` totals them. */
  final case class UpdateMany(table: String,
      steps: Seq[Update]) extends Mutation {
    require(steps.nonEmpty, s"update_${table}_many: updates is empty")
    private val stray = steps.map(_.table).filterNot(_ == table).distinct
    require(stray.isEmpty, s"update_${table}_many: steps target " +
      s"${stray.mkString(", ")}")
  }

  /** `delete_<table>(where: ...)` — compiled to tombstone rows. */
  final case class Delete(table: String, where: BoolExp) extends Mutation

  /** One mutation FIELD of a document: the mutation plus its response
    * shape. `returning = None` serves `{ affected_rows }` only;
    * `Some(cols)` is Hasura's `returning { cols }` — for insert/update
    * the written rows AS WRITTEN (post-set/inc, post-conflict-policy),
    * for delete the removed rows' PRIOR values (Hasura returns what it
    * deleted). `single = true` marks the `*_by_pk` spelling, whose
    * response is one nullable object rather than a list — engine-side
    * the rows are the same, the flag preserves the wire shape. */
  final case class Field(m: Mutation,
      returning: Option[Seq[String]] = None, single: Boolean = false,
      returningAs: Map[String, String] = Map.empty,
      retNested: Seq[QueryBuilder.Nested] = Nil,
      as: Option[String] = None) {
    // `as` is the ROOT-FIELD alias (r18) — the response key when the
    // document aliased the verb (`a: update_t(...)`), which Hasura
    // REQUIRES to repeat one verb in a document (duplicate response
    // keys refuse). Execution is positional; the alias is
    // parse/print surface.
    // `returning` entries are RESPONSE keys (GraphQL aliases
    // included); `returningAs` maps an aliased key back to its source
    // column — the read surface's Request.fieldAs contract.
    // `retNested` are RELATIONSHIP selections on the returned rows
    // (Hasura serves them on mutation responses) — the engine returns
    // the FULL affected rows and the serve layer attaches the
    // relationships through QueryBuilder.runOn (the _stream deliver
    // posture), so the store machinery stays relationship-free
    require(retNested.isEmpty || returning.isDefined,
      s"${m.table}: relationship selections need a returning arm")
    private val retKeys = returning.getOrElse(Nil) ++ retNested.map(_.as)
    require(retKeys.distinct.size == retKeys.size,
      s"${m.table}: duplicate response key(s) in returning")
    require(returningAs.keySet.subsetOf(
      returning.getOrElse(Nil).toSet),
      s"${m.table}: returningAs names absent response key(s) " +
        (returningAs.keySet -- returning.getOrElse(Nil)).mkString(", "))
  }

  /** One field's response: the count, plus the returned rows when the
    * field selected `returning` (already materialized — the rows
    * reflect THIS step's state even after later mutations fold on).
    * For an [[UpdateMany]] field, `perStep` carries the per-update
    * responses (Hasura returns a LIST of mutation_response objects
    * for `_many`, and `returning` belongs to EACH update — so the
    * field-level `returning` stays None by design; only `affected`
    * aggregates, as the step-count total). */
  final case class FieldResult(affected: Long,
      returning: Option[DataFrame],
      perStep: Option[Seq[FieldResult]] = None)

  /** One latest-wins merge step: current rows at seq 0, the delta at
    * seq 1 — the delta wins per key without computing a global max
    * sequence. `deleted` is consumed by the merge (tombstones drop). */
  private def mergeDelta(cur: DataFrame, delta: DataFrame,
      keyCols: Seq[String]): DataFrame =
    SnapshotStore.merge(
      cur.withColumn("_mseq", lit(0L)),
      delta.withColumn("_mseq", lit(1L)),
      keyCols, "_mseq")
      .drop("_mseq", "deleted")

  /** GraphQL literals (Long/Double/String/Boolean/null) coerced to the
    * snapshot column's type — loud on anything unrepresentable. */
  private def coerce(v: Any, dt: DataType, at: String): Any = (v, dt) match {
    case (null, _) => null
    case (l: Long, LongType) => l
    case (l: Long, IntegerType) =>
      require(l.isValidInt, s"$at: $l overflows an int column"); l.toInt
    case (l: Long, ShortType) =>
      require(l >= Short.MinValue && l <= Short.MaxValue,
        s"$at: $l overflows a short column"); l.toShort
    case (l: Long, DoubleType) => l.toDouble
    case (l: Long, FloatType) => l.toFloat
    case (d: Double, DoubleType) => d
    case (d: Double, FloatType) => d.toFloat
    case (s: String, StringType) => s
    case (b: Boolean, BooleanType) => b
    // the natural Scala literals of the PROGRAMMATIC API (an Int key,
    // a Float amount) widen to the GraphQL shapes above — refusing
    // `id -> 1` against an int column was a spurious loud failure
    case (i: Int, _) => coerce(i.toLong, dt, at)
    case (s: Short, _) => coerce(s.toLong, dt, at)
    case (b: Byte, _) => coerce(b.toLong, dt, at)
    case (f: Float, FloatType) => f
    case (f: Float, DoubleType) => f.toDouble
    case (other, t) => throw new IllegalArgumentException(
      s"$at: cannot coerce ${other.getClass.getSimpleName} to $t")
  }

  private def literalRows(snapshot: DataFrame,
      rows: Seq[Seq[(String, Any)]], table: String): DataFrame = {
    // all-nullable: absent columns land null regardless of what the
    // snapshot's schema claims (a non-nullable field over a null value
    // reads back garbage through codegen, not an error)
    val schema = StructType(snapshot.schema.fields.filterNot(
      _.name == "deleted").map(_.copy(nullable = true)))
    val known = schema.fieldNames.toSet
    val data = rows.map { r =>
      val m = r.toMap
      val unknown = (m.keySet -- known).toSeq.sorted
      require(unknown.isEmpty,
        s"insert_$table: unknown column(s) ${unknown.mkString(", ")}")
      Row.fromSeq(schema.fields.toSeq.map(f =>
        m.get(f.name)
          .map(coerce(_, f.dataType, s"insert_$table.${f.name}"))
          .orNull))
    }
    import scala.jdk.CollectionConverters._
    snapshot.sparkSession.createDataFrame(data.asJava, schema)
  }

  /** Filter a snapshot by a mutation's where tree — RELATIONSHIP
    * predicates (r18, Hasura's `delete_orders(where: {customer:
    * {...}})`) decorrelate through the store registry's child loader
    * (the registry's CURRENT folded state — same-document visibility);
    * the single-snapshot paths have no registry and refuse loudly. */
  private def filterOn(snapshot: DataFrame, w: BoolExp,
      childLoad: Option[String => DataFrame], at: String): DataFrame =
    if (!QueryBuilder.hasRelPred(w)) snapshot.filter(w.toColumn)
    else childLoad match {
      case Some(ld) => QueryBuilder.filterWith(ld, snapshot, w)
      case None => throw new IllegalArgumentException(
        s"$at: a relationship predicate in a mutation where needs " +
          "the store registry (applyFieldsToStores) — the " +
          "single-snapshot path cannot load the child table")
    }

  /** Apply one mutation to the current snapshot → (next snapshot,
    * affected_rows). Eager: the count is the mutation's response. */
  def applyMutation(snapshot: DataFrame, m: Mutation,
      keyCol: String): (DataFrame, Long) =
    applyMutation(snapshot, m, Seq(keyCol))

  /** [[applyMutation]] on a COMPOSITE primary key (r19): every key
    * component participates in clash checks, conflict joins, and the
    * merge window — `lineitem`'s natural (l_orderkey, l_linenumber)
    * shape, the reference's (Height, TxIndex, MsgID) cursor analog. */
  def applyMutation(snapshot: DataFrame, m: Mutation,
      keyCols: Seq[String]): (DataFrame, Long) = {
    val (next, n, _) = applyMutationFull(snapshot, m, keyCols, None)
    (next, n)
  }

  /** [[applyMutation]] plus the AFFECTED ROWS themselves — what a
    * `returning` selection serves: insert/update rows as written,
    * delete rows' prior values. */
  private def applyMutationFull(snapshot: DataFrame, m: Mutation,
      keyCols: Seq[String],
      childLoad: Option[String => DataFrame])
      : (DataFrame, Long, DataFrame) = m match {
    case Insert(table, rows, upsert, updateCols, conflictWhere) =>
      // every object must carry a non-null value for EVERY key
      // component (a null-key row would slide past the equi-join
      // clash check and tie nondeterministically in the merge
      // window), and key TUPLES must be unique WITHIN the list (two
      // rows under one key would collapse to an arbitrary winner
      // while affected_rows reports both) — Hasura errors on both;
      // so do we, driver-side, before anything runs
      keyCols.foreach { kc =>
        require(rows.forall(_.toMap.get(kc).exists(_ != null)),
          s"insert_$table: every object must carry a non-null $kc")
      }
      val keys = rows.map(r => keyCols.map(r.toMap))
      val dupKeys = keys.groupBy(identity).filter(_._2.size > 1).keys
        .map(_.mkString("(", ", ", ")"))
      require(dupKeys.isEmpty, s"insert_$table: duplicate key(s) in one " +
        s"objects list: ${dupKeys.mkString(", ")}")
      val delta = literalRows(snapshot, rows, table)
      val snapKeys = snapshot.select(keyCols.map(col): _*)
      updateCols match {
        case None =>
          if (!upsert) {
            val clash = delta.select(keyCols.map(col): _*)
              .join(snapKeys, keyCols, "left_semi").count()
            require(clash == 0, s"insert_$table: $clash key(s) already " +
              "exist (use an upsert insert for on-conflict overwrite)")
          }
          (mergeDelta(snapshot, delta, keyCols), rows.length.toLong, delta)
        case Some(cols0) =>
          // a duplicated update_column is harmless semantically but
          // would alias two __u_ columns into an ambiguous reference
          val cols = cols0.distinct
          val sch = snapshot.schema
          cols.foreach { c =>
            require(sch.fieldNames.contains(c),
              s"insert_$table.on_conflict: unknown column '$c'")
            require(!keyCols.contains(c), s"insert_$table.on_conflict: " +
              "the key column cannot be an update_column")
          }
          // which incoming keys clash is knowable cheaply — the objects
          // list is a request payload, so collecting ITS clashing keys
          // is bounded by the document, never the store
          val clashKeys = delta.select(keyCols.map(col): _*)
            .join(snapKeys, keyCols, "left_semi")
            .collect().map(r => keyCols.indices.toList.map(r.get)).toSet
          // only CONFLICTING rows must carry every update column (a
          // fresh row legitimately omits one — it inserts with null,
          // the documented absent-column behavior); for a clashing row
          // an absent update column would silently NULL stored data
          rows.foreach { r =>
            val m = r.toMap
            val ck = keyCols.toList.map(kc => coerce(m(kc),
              sch(kc).dataType, s"insert_$table.$kc"))
            if (clashKeys.contains(ck))
              cols.foreach(c => require(m.contains(c),
                s"insert_$table.on_conflict: the object for existing " +
                  s"key ${ck.mkString("(", ", ", ")")} omits " +
                  s"update_column '$c'"))
          }
          val fresh = delta.join(snapKeys, keyCols, "left_anti")
          val nFresh = (rows.length - clashKeys.size).toLong
          if (cols.isEmpty)
            // DO NOTHING: conflicts skip and do not count (Hasura)
            (mergeDelta(snapshot, fresh, keyCols), nFresh, fresh)
          else {
            // on conflict: the listed columns take the incoming values,
            // the rest keep their stored ones — built as stored-row ⋈
            // incoming-values so the merge delta carries full rows;
            // unique keys on both sides make every row fresh XOR
            // updated, so affected = the whole list, no extra action.
            // A conditional upsert (on_conflict.where, r18) gates the
            // join's stored side on the predicate — a clashing row
            // whose STORED state fails it writes nothing and does not
            // count (the one extra action, bounded by the clash set)
            val base = conflictWhere
              .map(w => snapshot.filter(w.toColumn)).getOrElse(snapshot)
            val d2 = delta.select(keyCols.map(kc =>
              col(kc).as(s"__ck_$kc")) ++
              cols.map(c => col(c).as(s"__u_$c")): _*)
            val updated = base
              .join(d2, keyCols.map(kc => base(kc) === col(s"__ck_$kc"))
                .reduce(_ && _))
              .select(base.columns.toSeq.map(c =>
                if (cols.contains(c)) col(s"__u_$c").as(c)
                else base(c)): _*)
            val written = fresh.unionByName(updated)
            val affected = conflictWhere match {
              case None => rows.length.toLong
              case Some(_) => nFresh + updated.count()
            }
            (mergeDelta(snapshot, written, keyCols), affected, written)
          }
      }
    case Update(table, where, set, inc, jsonb) =>
      val sch = snapshot.schema
      def checkedCol(c: String, what: String): Unit = {
        require(sch.fieldNames.contains(c),
          s"update_$table.$what: unknown column '$c'")
        require(!keyCols.contains(c),
          s"update_$table.$what: the key column cannot be updated " +
            "(delete + insert expresses a re-key)")
      }
      def typed(c: String, v: Any, what: String): org.apache.spark.sql.Column = {
        checkedCol(c, what)
        // the same loud driver-side coercion the insert path uses — a
        // bare cast would turn a type-mismatched literal into NULLs
        // across every matched row with affected_rows reporting success
        lit(coerce(v, sch(c).dataType, s"update_$table.$what"))
      }
      val changed = filterOn(snapshot, where, childLoad,
        s"update_$table")
      val withSet = set.foldLeft(changed) { case (df, (c, v)) =>
        df.withColumn(c, typed(c, v, "_set")) }
      val withInc = inc.foldLeft(withSet) { case (df, (c, v)) =>
        // _inc is ARITHMETIC: on a non-numeric column the add casts
        // to null across every matched row while affected_rows
        // reports success (ANSI off), or fails mid-job (ANSI on) —
        // and a null increment nulls the column the same way; both
        // are the silent-wrong-write shape this file rejects loudly
        require(sch(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"update_$table._inc: '$c' is " +
            s"${sch(c).dataType.simpleString} — _inc needs a " +
            "numeric column (use _set to replace non-numeric values)")
        require(v != null, s"update_$table._inc: null increment " +
          s"for '$c' would null the column across every matched row")
        df.withColumn(c, (col(c) + typed(c, v, "_inc")).cast(sch(c).dataType)) }
      // jsonb operators rewrite JSON-TEXT columns row by row (matched
      // rows only — the bounded delta the merge pays for anyway)
      val delta = jsonb.foldLeft(withInc) { case (df, (c, op)) =>
        val what = graft.functions.JsonbOps.opName(op)
        checkedCol(c, what)
        require(sch(c).dataType ==
          org.apache.spark.sql.types.StringType,
          s"update_$table.$what: jsonb operators need a JSON-text " +
            s"(string) column — '$c' is ${sch(c).dataType.simpleString}")
        df.withColumn(c, graft.functions.JsonbOps.column(op, col(c),
          s"update_$table.$what.$c"))
      }
      (mergeDelta(snapshot, delta, keyCols), delta.count(), delta)
    case Delete(table, where) =>
      val victims = deleteVictims(snapshot, where, childLoad,
        s"delete_$table")
      val doomed = victims.withColumn("deleted", lit(true))
      (mergeDelta(snapshot, doomed, keyCols), doomed.count(), victims)
    case t: InsertTree => throw new IllegalArgumentException(
      s"insert_${t.table}: a nested insert spans tables — apply it " +
        "through the store registry (applyFieldsToStores)")
    case u: UpdateMany => throw new IllegalArgumentException(
      s"update_${u.table}_many: per-step responses live in " +
        "applyFields — apply the document there")
  }

  /** Apply a mutation document in order → (final snapshot, per-field
    * affected_rows). Each step's result is materialized
    * (localCheckpoint) before the next folds on top: the per-field
    * counts are eager anyway, and without the cut mutation k's count
    * would re-execute all k-1 prior merges — and the final store write
    * the whole chain again (quadratic scans of the base snapshot). */
  def applyAll(snapshot: DataFrame, ms: Seq[Mutation],
      keyCol: String): (DataFrame, Seq[Long]) =
    applyAll(snapshot, ms, Seq(keyCol))

  /** [[applyAll]] on a composite key. */
  def applyAll(snapshot: DataFrame, ms: Seq[Mutation],
      keyCols: Seq[String]): (DataFrame, Seq[Long]) = {
    val (next, rs) = applyFields(snapshot, ms.map(Field(_)), keyCols,
      None)
    (next, rs.map(_.affected))
  }

  /** Apply a mutation document of [[Field]]s in order → (final
    * snapshot, per-field results). `returning` selections are
    * materialized AT THEIR STEP (each sees every prior mutation's
    * writes and none of the later ones — Hasura's in-transaction
    * visibility), so the caller can consume them after the fold.
    * Returned rows are bounded by each mutation's affected set, the
    * same cost Hasura's `returning` pays. */
  def applyFields(snapshot: DataFrame, fields: Seq[Field],
      keyCol: String,
      childLoad: Option[String => DataFrame] = None)
      : (DataFrame, Seq[FieldResult]) =
    applyFields(snapshot, fields, Seq(keyCol), childLoad)

  /** [[applyFields]] on a COMPOSITE key: by_pk verbs must name EVERY
    * key component (a partial key would turn a "single-object" verb
    * into a multi-row write). */
  def applyFields(snapshot: DataFrame, fields: Seq[Field],
      keyCols: Seq[String],
      childLoad: Option[String => DataFrame])
      : (DataFrame, Seq[FieldResult]) =
    fields.foldLeft((snapshot, Seq.empty[FieldResult])) {
      case ((cur, rs), f) =>
        // a *_by_pk verb must really address the store's key — EVERY
        // component of it: Hasura rejects a non-PK pk_columns, and a
        // typo'd or missing column here would turn a "single-object"
        // update into a silent mass write (the parser has no schema;
        // the store knows its key — so the check lives at the layer
        // that knows)
        // an ANDed tree still qualifies: Permissions.secureFields
        // wraps the parsed Eq(pk, v) in And(roleFilter, ...) — the
        // key equalities must be PRESENT, not alone (Hasura's by_pk
        // under a row filter answers null for filtered-out keys,
        // which is exactly what the extra conjunct produces)
        def namesCol(w: BoolExp, kc: String): Boolean = w match {
          case QueryBuilder.Eq(c, _) => c == kc
          case QueryBuilder.And(es @ _*) => es.exists(namesCol(_, kc))
          case _ => false
        }
        def namesKey(w: BoolExp): Boolean =
          keyCols.forall(namesCol(w, _))
        f.m match {
          case Update(table, w, _, _, _) if f.single =>
            require(namesKey(w),
              s"update_${table}_by_pk: pk_columns must name the key " +
              s"column(s) '${keyCols.mkString(", ")}'")
          case Delete(table, w) if f.single =>
            require(namesKey(w),
              s"delete_${table}_by_pk: the argument must name the " +
              s"key column(s) '${keyCols.mkString(", ")}'")
          case _ => ()
        }
        def retOf(rows: DataFrame): Option[DataFrame] =
          f.returning.map { cols =>
            val have = rows.columns.toSet
            val srcs = cols.map(c => f.returningAs.getOrElse(c, c))
            val missing = srcs.filterNot(have)
            require(missing.isEmpty, s"returning: unknown column(s) " +
              missing.mkString(", "))
            // relationship selections attach at the SERVE layer
            // (GraphQl.renderReturning) — keep the FULL rows so the
            // join keys survive; the final projection happens there
            if (f.retNested.nonEmpty) rows.localCheckpoint(true)
            else rows.select(cols.map { c =>
              val src = f.returningAs.getOrElse(c, c)
              if (src == c) col(c) else col(src).as(c)
            }: _*).localCheckpoint(true)
          }
        f.m match {
          case UpdateMany(_, steps) =>
            // sequential per-step fold: each update sees the previous
            // ones' writes; each step materializes (the counts are
            // eager anyway), and each gets its own response — Hasura's
            // returning on _many is per update
            var c = cur
            // a later step's relationship predicate on the MUTATED
            // table itself must see the earlier steps' writes (each
            // step is its own statement) — serve the step-local fold
            // for this table, the registry for every other
            val stepLoad = childLoad.map(ld =>
              (t2: String) => if (t2 == f.m.table) c else ld(t2))
            val sub = steps.map { u =>
              val (n2, n, rows) = applyMutationFull(c, u, keyCols,
                stepLoad)
              c = n2.localCheckpoint(true)
              FieldResult(n, retOf(rows))
            }
            (c, rs :+ FieldResult(sub.map(_.affected).sum, None,
              Some(sub)))
          case _ =>
            val (next, n, rows) = applyMutationFull(cur, f.m, keyCols,
              childLoad)
            (next.localCheckpoint(true), rs :+ FieldResult(n, retOf(rows)))
        }
    }

  /** Apply a mutation document against a PERSISTED snapshot store:
    * read, fold the mutations, rewrite in place through the
    * [[graft.sources.AtomicSwap]] discipline (the replacement builds at
    * the tmp path while the live one keeps serving readers; the swap is
    * two renames). `table` is the store's table name — every mutation
    * must target it (a multi-table document routed to one store would
    * silently write the wrong rows). Returns per-field affected_rows. */
  def applyToStore(spark: SparkSession, path: String, table: String,
      keyCol: String, ms: Seq[Mutation]): Seq[Long] =
    applyFieldsToStore(spark, path, table, keyCol, ms.map(Field(_)))
      .map(_.affected)

  /** [[applyToStore]] for a document of [[Field]]s — the returning
    * DataFrames are localCheckpoint-materialized BEFORE the store
    * rewrite, so they stay valid after the swap replaces the files
    * they were computed from. */
  def applyFieldsToStore(spark: SparkSession, path: String,
      table: String, keyCol: String,
      fields: Seq[Field]): Seq[FieldResult] =
    applyFieldsToStore(spark, path, table, Seq(keyCol), fields)

  /** [[applyFieldsToStore]] on a composite key. */
  def applyFieldsToStore(spark: SparkSession, path: String,
      table: String, keyCols: Seq[String],
      fields: Seq[Field]): Seq[FieldResult] = {
    val stray = fields.map(_.m.table).filterNot(_ == table).distinct
    require(stray.isEmpty, s"store at $path holds '$table' but the " +
      s"document mutates ${stray.mkString(", ")}")
    applyFieldsToStores(spark, Map(table -> (path, keyCols)), fields)
  }

  /** The rows a [[Delete]] removes. [[QueryBuilder.KeySet]] is the
    * one predicate with no Column form — it compiles HERE, to a LEFT
    * SEMI JOIN against its key DataFrame (AQE broadcasts a small key
    * set; a big one hash-joins on the cluster), so membership in a
    * ten-million-key set never becomes a driver-resident `isin`
    * literal. Package-private so specs can plan-assert the join. */
  private[api] def deleteVictims(snapshot: DataFrame,
      where: BoolExp,
      childLoad: Option[String => DataFrame] = None,
      at: String = "delete"): DataFrame = where match {
    case QueryBuilder.KeySet(field, keys) =>
      val k = keys.toDF("__keyset_key")
      snapshot.join(k, snapshot(field) === k("__keyset_key"),
        "left_semi")
    case _ => filterOn(snapshot, where, childLoad, at)
  }

  /** Above this many doomed parents, [[cascadeForget]] stops inlining
    * keys as an `In` literal and switches to the [[QueryBuilder
    * .KeySet]] semi-join. 1000 keys ≈ Hasura's practical `_in` list
    * size and well under any plan-size or driver-memory concern. */
  val CascadeInlineKeys = 1000

  /** CASCADE FORGET — the right-to-be-forgotten operation no single
    * Hasura mutation expresses (Postgres cascades live in DDL; this
    * engine's stores have no DDL, so the cascade is explicit): delete
    * the parent rows matching `where`, and in every listed child
    * table the rows whose FK matches a deleted parent key. The doomed
    * parent keys are probed with a `limit(guard+1)` collect: a
    * person-sized set (the GDPR case) inlines as the `In` fast path,
    * while a broad predicate — nothing stops `where` from matching
    * half the store — NEVER materializes on the driver; its keys stay
    * a localCheckpointed DataFrame (pinned BEFORE the parent swap
    * replaces the files it was computed from) that each child delete
    * consumes as a [[QueryBuilder.KeySet]] semi-join. The whole
    * document applies through [[applyFieldsToStores]], so per-table
    * swaps and document-order semantics carry over. Returns per-table
    * affected counts, parent first. */
  def cascadeForget(spark: SparkSession,
      stores: Map[String, (String, Seq[String])], parentTable: String,
      where: BoolExp,
      children: Seq[(String, String)]): Seq[(String, Long)] = {
    val (pPath, pKeys) = stores.getOrElse(parentTable,
      throw new IllegalArgumentException(
        s"no registered store for '$parentTable'"))
    // the cascade matches each child's single FK column against the
    // parent key — a composite-keyed parent has no single-column FK
    // for children to reference, so the cascade requires a scalar key
    require(pKeys.size == 1, s"cascadeForget: parent '$parentTable' " +
      s"has a composite key (${pKeys.mkString(", ")}) — child FK " +
      "columns reference single-column keys")
    val pKey = pKeys.head
    val doomedDf = SnapshotStore.read(spark, pPath)
      .filter(where.toColumn).select(pKey)
    val probe = doomedDf.limit(CascadeInlineKeys + 1).collect()
      .map(_.get(0))
    val childWhere: String => BoolExp =
      if (probe.isEmpty)
        // no doomed parents → a never-true predicate (Eq-null is the
        // DSL's documented never-matching comparison), so the child
        // store still rewrites zero rows instead of erroring
        fkCol => QueryBuilder.Eq(fkCol, null)
      else if (probe.length <= CascadeInlineKeys)
        fkCol => QueryBuilder.In(fkCol, probe.toSeq)
      else {
        val pinned = doomedDf.localCheckpoint(true)
        fkCol => QueryBuilder.KeySet(fkCol, pinned)
      }
    val fields = Field(Delete(parentTable, where)) +:
      children.map { case (childTable, fkCol) =>
        Field(Delete(childTable, childWhere(fkCol))) }
    val rs = applyFieldsToStores(spark, stores, fields)
    (parentTable +: children.map(_._1)).zip(rs.map(_.affected))
  }

  /** Apply one document across a REGISTRY of persisted stores (table →
    * (path, keyCol)) — Hasura documents freely mix tables, and its
    * sequential semantics carry over: fields execute in document
    * order, each against its table's folded state, so a later field
    * sees every earlier write to ITS table (and tables never interact
    * — there are no cross-table constraints in this engine).
    *
    * Durability contract: each store rewrites through [[AtomicSwap]]
    * (readers of one table never see a half-write), stores are
    * rewritten only if the document touched them, and the swaps run
    * sequentially AFTER the whole document folds — so a crash
    * mid-apply leaves every store untouched, and a crash mid-swap
    * leaves each table either fully old or fully new (per-table
    * atomicity; cross-table atomicity would need a transaction log
    * the reference's store does not have either). */
  def applyFieldsToStores(spark: SparkSession,
      stores: Map[String, (String, Seq[String])],
      fields: Seq[Field]): Seq[FieldResult] = {
    def tablesOf(m: Mutation): Seq[String] = m match {
      case InsertTree(p, cs, bs) =>
        bs.flatMap(tablesOf) ++ (p.table +: cs.flatMap(tablesOf))
      case other => Seq(other.table)
    }
    val unknown = fields.flatMap(f => tablesOf(f.m)).distinct
      .filterNot(stores.contains)
    require(unknown.isEmpty,
      s"no registered store for table(s): ${unknown.mkString(", ")}")
    def fsOf(path: String) = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val touched = fields.flatMap(f => tablesOf(f.m)).distinct
    var snaps: Map[String, DataFrame] = touched.map { t =>
      t -> SnapshotStore.read(spark, stores(t)._1)
    }.toMap
    // relationship-predicate children (r18) resolve against the
    // CURRENT folded state — a table an earlier field wrote is seen
    // post-write (Hasura's in-transaction visibility); an untouched
    // registered table reads its store once (cached in `snaps`;
    // only `touched` tables rewrite at the end, so caching a read
    // never triggers a spurious swap)
    def loadChild(t: String): DataFrame =
      snaps.getOrElse(t, {
        val (path, _) = stores.getOrElse(t,
          throw new IllegalArgumentException(
            s"no registered store for relationship child '$t' — a " +
              "mutation's relationship predicate reads tables from " +
              "the registry"))
        val df = SnapshotStore.read(spark, path)
        snaps += t -> df
        df
      })
    var changed = Set.empty[String]
    def step(f: Field): FieldResult = {
      val t = f.m.table
      val (next, rs) = applyFields(snaps(t), Seq(f), stores(t)._2,
        Some(loadChild))
      snaps += t -> next
      // affected == 0 means the fold returned the current rows (an
      // update/delete matching nothing, a do-nothing upsert whose
      // every row clashed) — tracked so the rewrite loop can skip
      // the full read+swap that would reproduce byte-identical data
      if (rs.head.affected > 0) changed += t
      rs.head
    }
    // one nested-insert node, recursively: its object-relationship
    // subtrees first (this node's rows carry FKs referencing their
    // keys), then the node's own rows, then its array-relationship
    // subtrees (whose rows carry FKs referencing THIS node's keys) —
    // Hasura's pointed-at-row-lands-first order at every level
    def execNode(m: Mutation): Long = m match {
      case InsertTree(p, cs, bs) =>
        bs.map(execNode).sum + step(Field(p)).affected +
          cs.map(execNode).sum
      case other => step(Field(other)).affected
    }
    val results = fields.map { f =>
      f.m match {
        case InsertTree(parent, children, before) =>
          // one affected_rows for the whole tree (every level,
          // Hasura's accounting); returning = the ROOT rows
          val nb = before.map(execNode).sum
          val pr = step(Field(parent, f.returning, f.single,
            f.returningAs, retNested = f.retNested))
          val nc = children.map(execNode).sum
          FieldResult(nb + pr.affected + nc, pr.returning)
        case _ => step(f)
      }
    }
    // only stores a field actually CHANGED rewrite — a cascade or
    // update matching zero rows must not pay a full store read +
    // two-rename swap per table to land byte-identical content
    touched.filter(changed).foreach { t =>
      val (path, _) = stores(t)
      AtomicSwap.rewrite(fsOf(path), path)(tmp =>
        SnapshotStore.write(snaps(t), tmp))
    }
    results
  }
}
