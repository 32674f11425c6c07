package graft.api

import graft.api.QueryBuilder.{BoolExp, Request}
import graft.sources.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** SUBSCRIPTIONS — the third Hasura surface after queries and
  * mutations: a parsed read [[Request]] served continuously over a
  * stream, re-answered as data changes. No new grammar: a subscription
  * document is a read query under the `subscription` keyword, so
  * [[GraphQl.parse]]'s output is the input here; what this module adds
  * is the ROUTING of a request to the engine's streaming twins with the
  * output mode each shape needs:
  *
  *  - APPEND shape (scalar fields + where only): the result set is
  *    monotone under arriving rows, so each trigger emits exactly the
  *    new matching rows — a plain filtered/projected append stream
  *    (Hasura's streaming subscription).
  *  - LIVE-QUERY shape (order_by / limit / distinct_on / any
  *    re-ranking): the full result can change on every event, so each
  *    trigger merges the delta into latest-wins per-key state (the S8
  *    snapshot upsert — [[graft.sources.SnapshotStore.merge]], the
  *    same shape `MarketplaceStream.snapshotStream` keeps in the state
  *    store) and re-evaluates the request against it, pushing the
  *    COMPLETE result — Hasura's live query, Spark's complete-mode
  *    posture.
  *
  * Batch equivalence is the correctness contract: after every trigger,
  * the pushed result equals [[QueryBuilder.runRoot]] over the batch
  * latest-state of all data seen so far (spec-pinned per trigger, the
  * CorpusStreams pattern).
  *
  * Scale: the live-query state is one latest-wins row per key (hash-
  * partitioned; the localCheckpoint bounds lineage, the analog of the
  * state store's per-batch snapshot), and each trigger pays one merge
  * shuffle on the key + the request's own plan over the snapshot —
  * nothing a keyed streaming aggregation doesn't already pay.
  */
object Subscriptions {

  /** Can this request serve as an append stream? Monotone shapes only:
    * any ordering/slicing/dedup re-ranks old rows on new data. */
  def isAppendShape(req: Request): Boolean =
    req.orderBy.isEmpty && req.limit.isEmpty && req.offset == 0 &&
      req.distinctOn.isEmpty && req.nested.isEmpty && req.aggRels.isEmpty

  /** APPEND-shape subscription: the streaming DataFrame of the
    * request's root table in, the filtered projection out — attach
    * your sink and trigger. The where-tree compiles exactly as in
    * batch, so predicates push into the streaming source scan. */
  def appendStream(stream: DataFrame, req: Request): DataFrame = {
    require(isAppendShape(req),
      s"subscription on '${req.table}': order_by/limit/distinct_on/" +
        "relationships need the live-query mode (liveQuery)")
    val f = req.where.map(w => stream.filter(w.toColumn)).getOrElse(stream)
    f.select(req.fields.map(aliased(req.fieldAs)): _*)
  }

  /** Response-key projection: an aliased field reads its source
    * column under the response key (the [[Request.fieldAs]] /
    * [[StreamRequest.fieldAs]] contract); a bare field passes
    * through. */
  private def aliased(fieldAs: Map[String, String])(f: String): Column = {
    val src = fieldAs.getOrElse(f, f)
    if (src == f) col(f) else col(src).as(f)
  }

  /** LIVE-QUERY subscription: per trigger, fold the micro-batch into
    * latest-wins per-key state and push the request's COMPLETE result
    * over it. `seqCol` names the stream's ordering column (the S4/S8
    * merge contract); pass None for UPDATE-MODE inputs that already
    * carry one row per changed key per trigger (e.g.
    * `MarketplaceStream.snapshotStream` output) — the batch id then
    * serves as the sequence, later triggers winning. `push` receives
    * (batchId, full result) after each trigger.
    *
    * Lifetime: CONNECTION-SCOPED, like a Hasura subscription (it dies
    * with its WebSocket and the client re-subscribes). The state var
    * lives in this session and the started query uses a session-temp
    * checkpoint by design — this method never accepts a
    * checkpointLocation, because resuming from committed offsets with
    * an empty state var would silently serve results missing every
    * pre-restart key. A DURABLE subscription is the composition of a
    * persisted snapshot ([[graft.sources.SnapshotStore]] via
    * foreachBatch) with a fresh liveQuery over it. */
  def liveQuery(stream: DataFrame, req: Request, keyCol: String,
      seqCol: Option[String] = None)
      (push: (Long, DataFrame) => Unit): StreamingQuery =
    liveQuery(stream, req, Seq(keyCol), seqCol)(push)

  /** [[liveQuery]] on a COMPOSITE key (r20): the latest-wins state
    * partitions on the full tuple — a store keyed like `lineitem`'s
    * natural (l_orderkey, l_linenumber) must never collapse two
    * lines of one order between triggers (the [[graft.sources
    * .SnapshotStore.merge]] composite contract, promoted to the
    * serve path). Same state posture, same batch-equivalence rule. */
  def liveQuery(stream: DataFrame, req: Request, keyCols: Seq[String],
      seqCol: Option[String])
      (push: (Long, DataFrame) => Unit): StreamingQuery = {
    require(req.nested.isEmpty && req.aggRels.isEmpty,
      s"subscription on '${req.table}': relationship selections " +
        "need the table directory (use the (spark, dir) overload)")
    QueryBuilder.requireRowLocal("liveQuery", req.table, req.where,
      "the (spark, dir) overload")
    liveFold(stream, keyCols, seqCol)(
      latest => QueryBuilder.runRoot(latest, req))(push)
  }

  /** [[liveQuery]] with the TABLE DIRECTORY — the overload serving
    * the FULL read grammar on live subscriptions (Hasura serves
    * nested selections on subscriptions; the directory-less overload
    * must refuse them): per trigger, the request runs
    * [[QueryBuilder.runOn]] with the latest root snapshot as the root
    * table, while relationship sides (nested / aggregate
    * relationships, relationship predicates, ordering aggregates)
    * read the directory's stored tables — the root is the live
    * surface, related tables answer their current stored state (the
    * q184 serve-with-directory posture). Each trigger pays the
    * request's own batch plan over the snapshot: per-relationship
    * pre-aggregation and key joins, nothing a batch run doesn't
    * pay. */
  def liveQuery(s: org.apache.spark.sql.SparkSession, dir: String,
      stream: DataFrame, req: Request, keyCol: String,
      seqCol: Option[String])
      (push: (Long, DataFrame) => Unit): StreamingQuery =
    liveQuery(s, dir, stream, req, Seq(keyCol), seqCol)(push)

  /** The directory overload on a COMPOSITE key. */
  def liveQuery(s: org.apache.spark.sql.SparkSession, dir: String,
      stream: DataFrame, req: Request, keyCols: Seq[String],
      seqCol: Option[String])
      (push: (Long, DataFrame) => Unit): StreamingQuery =
    liveFold(stream, keyCols, seqCol)(
      latest => QueryBuilder.runOn(s, dir, latest, req))(push)

  /** The shared live-subscription STATE FOLD ([[liveQuery]] and
    * [[liveAggregate]] differ only in the per-trigger evaluator): per
    * trigger, the micro-batch merges into latest-wins per-key state
    * (the S8 snapshot upsert; eager localCheckpoint = the state-store
    * snapshot analog, cutting lineage), and `eval` re-answers over
    * the latest rows. */
  private def liveFold(stream: DataFrame, keyCols: Seq[String],
      seqCol: Option[String])(eval: DataFrame => DataFrame)
      (push: (Long, DataFrame) => Unit): StreamingQuery = {
    require(keyCols.nonEmpty, "liveQuery: empty key column list")
    var snap: Option[DataFrame] = None
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val sc = seqCol.getOrElse("_sub_seq")
        val delta =
          if (seqCol.isDefined) batch
          else {
            // batch-id sequencing is only sound when the input is
            // update-mode (one row per changed key per trigger) — two
            // same-key rows would TIE in the merge window and an
            // arbitrary one would win; loud, never a silent wrong
            // row. The probe groups on the FULL key tuple: two rows
            // differing only in a later component are two KEYS.
            val dup = batch.groupBy(keyCols.map(col): _*)
              .count().filter(col("count") > 1).limit(1).collect()
            require(dup.isEmpty, "liveQuery(seqCol = None): the " +
              s"micro-batch carries key ${dup.headOption.map(r =>
                keyCols.indices.map(r.get).mkString("(", ", ", ")"))
                .getOrElse("?")} more than once — batch-id sequencing " +
              "needs one row per key per trigger (pass a real seqCol " +
              "for append-mode inputs)")
            batch.withColumn(sc, lit(bid))
          }
        val cur = snap.getOrElse(delta.limit(0))
        val merged = SnapshotStore.merge(cur, delta, keyCols, sc)
          .localCheckpoint(true)
        snap = Some(merged)
        // only the SYNTHETIC batch-id sequence is hidden from eval —
        // a caller-supplied seqCol is a real table column a request
        // may legitimately select or order by (dropping it made any
        // such subscription die on resolution at the first trigger)
        push(bid, eval(if (seqCol.isDefined) merged
          else merged.drop(sc)))
        ()
      }
      .start()
  }

  /** LIVE ROOT AGGREGATE — `subscription { <t>_aggregate {...} }`
    * (GraphQl.parseRootAggregate accepts the keyword): per trigger,
    * fold the micro-batch into latest-wins per-key state exactly like
    * [[liveQuery]], then push the COMPLETE re-evaluated aggregate
    * ([[QueryBuilder.runAggregateOn]]) — a count/sum can retract when
    * an upsert changes a row, which no append stream expresses. Same
    * state posture (one latest-wins row per key, localCheckpoint
    * lineage cut), same connection-scoped lifetime. A relationship
    * predicate in the where refuses at attach (no table directory). */
  def liveAggregate(stream: DataFrame,
      req: QueryBuilder.AggRequest, keyCol: String,
      seqCol: Option[String] = None)
      (push: (Long, DataFrame) => Unit): StreamingQuery =
    liveAggregate(stream, req, Seq(keyCol), seqCol)(push)

  /** [[liveAggregate]] on a COMPOSITE key. */
  def liveAggregate(stream: DataFrame,
      req: QueryBuilder.AggRequest, keyCols: Seq[String],
      seqCol: Option[String])
      (push: (Long, DataFrame) => Unit): StreamingQuery = {
    QueryBuilder.requireRowLocal("liveAggregate", req.table, req.where,
      "runAggregate")
    liveFold(stream, keyCols, seqCol)(
      latest => QueryBuilder.runAggregateOn(latest, req))(push)
  }

  // ---- Hasura streaming subscriptions (`<table>_stream`) -------------

  /** A parsed `<table>_stream` subscription — Hasura's CURSOR-PAGED
    * streaming surface (the non-append twin of [[appendStream]]):
    * rows strictly past `initial` in `cursorField` order, delivered in
    * pages of `batchSize`, the cursor advancing to the last delivered
    * value. The cursor column must be UNIQUE (Hasura's own documented
    * requirement — ties at a page boundary would be silently skipped
    * by the strictly-greater advance, so [[streamServe]] also dedups
    * on it against at-least-once redelivery). `initial = None` streams
    * from the beginning (Hasura's `initial_value: null`). */
  final case class StreamRequest(table: String, cursorField: String,
      initial: Option[Any], ascending: Boolean = true, batchSize: Int,
      where: Option[BoolExp] = None, fields: Seq[String],
      fieldAs: Map[String, String] = Map.empty,
      nested: Seq[QueryBuilder.Nested] = Nil,
      moreCursor: Seq[(String, Option[Any])] = Nil) {
    require(batchSize > 0, s"$table: batch_size must be positive")
    // COMPOSITE cursors (r19): `moreCursor` lists the remaining
    // (column, initial-value) components after `cursorField` — the
    // reference's own cursor is the (Height, TxIndex, MsgID) triple
    // (x/indexer/cursor.go:5-18), and "resume past it" is the
    // LEXICOGRAPHIC strictly-greater predicate over the tuple. The
    // UNIQUE-cursor requirement applies to the tuple; ordering always
    // uses every component. Resume values are all-or-nothing: a
    // from-start stream (`initial = None`) carries None components
    // (the columns still order the pages), a resuming one a value
    // per component.
    require(moreCursor.forall(_._2.isDefined == initial.isDefined),
      s"$table: a composite cursor resumes past a FULL tuple — " +
        "component values are all-or-nothing with initial_value")
    require(moreCursor.map(_._1).distinct.size == moreCursor.size &&
      !moreCursor.map(_._1).contains(cursorField),
      s"$table: duplicate cursor column")
    /** Every cursor column, leading first. */
    def cursorFields: Seq[String] = cursorField +: moreCursor.map(_._1)
    /** The full resume tuple, when resuming. */
    def initialTuple: Option[Seq[Any]] =
      initial.map(_ +: moreCursor.map(_._2.get))
    // `fields` are RESPONSE keys; `fieldAs` maps an aliased key back
    // to its source column (the [[Request.fieldAs]] contract).
    // `nested` are RELATIONSHIP selections on the delivered rows
    // (r17): each delivered page evaluates them through
    // [[QueryBuilder.runOn]] — q193's live-serve posture carried to
    // the cursor surface. Serving them needs the table directory
    // (the rel argument of [[streamPages]]/[[streamServe]]).
    require((fields ++ nested.map(_.as)).distinct.size ==
      fields.size + nested.size,
      s"$table: duplicate response key(s) " +
        (fields ++ nested.map(_.as)).diff(
          (fields ++ nested.map(_.as)).distinct).distinct.mkString(", "))
    require(fieldAs.keySet.subsetOf(fields.toSet),
      s"$table: fieldAs names absent response key(s) " +
        (fieldAs.keySet -- fields).mkString(", "))
    // `fields` MAY be empty: a subscription whose every field was
    // conditionally excluded (@include/@skip) is the spec's
    // fully-skipped selection — pages still cut (batch_idx only, no
    // selected columns), the GraphQL "empty data, never an error"
    // contract. An empty selection SET in document text is still a
    // parse error (GraphQl.parseStream counts parsed fields).
  }

  /** Above this many rows in one trigger, [[streamServe]]'s page cut
    * switches from the one-task window to the range-partitioned path
    * — 50k rows is minutes of steady-state arrivals but sorts in
    * milliseconds; a backfill trigger (replaying history through a
    * subscription) blows far past it. */
  val RangeCutRows = 50000L

  /** BACKFILL-SAFE page cut: global page numbers without a global
    * sort. Range-partition on the cursor (each task sorts ONLY its
    * range — bounded per-task sort), then zipWithIndex assigns the
    * global row index distributively (range partitions are emitted in
    * cursor order, so partition-offset + local position IS the global
    * rank — the two-pass trick a partition-less row_number window
    * cannot do). Pages then cut by integer division. */
  private def rangePaged(arrived: DataFrame, sr: StreamRequest,
      pagesDone: Long): DataFrame = {
    val sorted = arrived
      .repartitionByRange(cursorOrder(sr): _*)
      .sortWithinPartitions(cursorOrder(sr): _*)
    val schema = sorted.schema
      .add("__idx", org.apache.spark.sql.types.LongType,
        nullable = false)
    val withIdx = sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema)
    withIdx
      .withColumn("batch_idx",
        lit(pagesDone) + expr(s"__idx div ${sr.batchSize}"))
      .drop("__idx")
  }

  /** Shape one cut page frame (all base columns + `batch_idx`) into
    * the delivered rows: the plain projection, or — when the request
    * selects RELATIONSHIPS — the full [[QueryBuilder.runOn]]
    * evaluation over the page rows (each relationship pre-aggregates
    * per parent key and joins back, exactly the read path; an
    * inner-attached relationship drops childless delivered rows, the
    * q40 shape — spell `@join(type: "left")` for Hasura's
    * keep-with-empty-array semantics). `rel` carries the
    * (session, tableDir) context the child tables load from. */
  private def deliver(cut: DataFrame, sr: StreamRequest,
      rel: Option[(org.apache.spark.sql.SparkSession, String)])
      : DataFrame =
    if (sr.nested.isEmpty)
      cut.select(col("batch_idx") +: sr.fields.map(aliased(sr.fieldAs)): _*)
    else {
      val (s, dir) = rel.getOrElse(throw new IllegalArgumentException(
        s"${sr.table}_stream: relationship selections need the table " +
          "directory — serve through the (s, dir) overloads"))
      // the relationship joins would otherwise scramble the page sort:
      // re-order by the cursor in the stream's direction (page index
      // derives from that same order, so this reproduces batch_idx
      // order AND in-page order), the way scalar-only delivery rides
      // the pre-sorted frame
      QueryBuilder.runOn(s, dir, cut, Request(
        sr.table, fields = "batch_idx" +: sr.fields,
        fieldAs = sr.fieldAs, nested = sr.nested,
        orderBy = sr.cursorFields.map(f =>
          QueryBuilder.Order(f, desc = !sr.ascending))))
    }

  /** Strictly past the resume tuple, LEXICOGRAPHICALLY: (k1 > v1) OR
    * (k1 = v1 AND k2 > v2) OR ... — the composite-cursor resume
    * predicate. Built as a right fold so the scalar case is exactly
    * the old single-column comparison (pushdown unchanged). */
  private def pastCursor(sr: StreamRequest, vs: Seq[Any]) = {
    def gt(f: String, v: Any) =
      if (sr.ascending) col(f) > lit(v) else col(f) < lit(v)
    val pairs = sr.cursorFields.zip(vs)
    pairs.zipWithIndex.map { case ((f, v), i) =>
      pairs.take(i).map { case (pf, pv) => col(pf) === lit(pv) }
        .foldLeft(gt(f, v))(_ && _)
    }.reduce(_ || _)
  }

  /** A where carrying RELATIONSHIP predicates (a role's
    * filter-with-relationship grant, or the request's own)
    * decorrelates ONCE per serve, against the table directory in
    * `rel`: each predicate's DISTINCT satisfying parent-key set is
    * PINNED for the life of the serve (the documented staleness
    * contract: child rows arriving after the serve starts do not flip
    * visibility mid-stream, matching the cursor scan's own
    * no-retraction semantics; re-subscribe to refresh), and `frame` —
    * a batch base or a stream — left-joins it as a flag column the
    * rewritten where reads row-locally: a stream-static join each
    * trigger pays on the already-filtered delta, never a per-trigger
    * child-table re-aggregation. Without `rel` such a where refuses
    * here, at call or attach time. Any other where passes through. */
  private def flagJoined(frame: DataFrame, sr: StreamRequest,
      rel: Option[(org.apache.spark.sql.SparkSession, String)],
      executor: String): (DataFrame, StreamRequest) =
    (sr.where, rel) match {
      case (Some(w), Some((s, dir))) if QueryBuilder.hasRelPred(w) =>
        val (joined, w2) = QueryBuilder.decorrelate(s, dir, frame, w,
          new java.util.concurrent.atomic.AtomicInteger(), pin = true)
        (joined, sr.copy(where = Some(w2)))
      case _ =>
        QueryBuilder.requireRowLocal(executor, sr.table, sr.where,
          "the rel argument")
        (frame, sr)
    }

  private def cursorOrder(sr: StreamRequest): Seq[Column] =
    sr.cursorFields.map(f =>
      if (sr.ascending) col(f).asc else col(f).desc)

  /** A cursor scan cannot page a NULL key: the resume predicate
    * evaluates NULL for it (dropped), so a null-cursor row could only
    * ever be delivered ONCE — on the very first trigger before any
    * advance — and then silently lost behind the cursor forever. The
    * consistent rule (the Postgres/Hasura non-null cursor-column
    * requirement): rows with a null cursor component never stream, on
    * the batch-replay and live paths alike. */
  private def nonNullCursor(sr: StreamRequest): Column =
    sr.cursorFields.map(col(_).isNotNull).reduce(_ && _)

  /** BATCH REPLAY of the first `nPages` pages — the oracle-checkable
    * contract ([[streamServe]] must deliver exactly these rows in
    * exactly these pages when the data is all present). One
    * TakeOrdered of `nPages * batchSize` rows (never a global sort),
    * the page index attached by a window over the already-limited
    * set (the W5 post-limit presentation pattern — bounded by
    * construction). Filters — the where tree AND the cursor lower
    * bound — sit below the limit, so both push into the scan.
    * Relationship predicates in the where need `rel` ([[flagJoined]]). */
  def streamPages(base0: DataFrame, sr0: StreamRequest, nPages: Int,
      rel: Option[(org.apache.spark.sql.SparkSession, String)] = None)
      : DataFrame = {
    require(nPages > 0, "nPages must be positive")
    val (base, sr) = flagJoined(base0, sr0, rel, "streamPages")
    val bounded = Seq(Some(nonNullCursor(sr)),
        sr.where.map(_.toColumn),
        sr.initialTuple.map(pastCursor(sr, _)))
      .flatten.foldLeft(base)(_.filter(_))
      .orderBy(cursorOrder(sr): _*).limit(nPages * sr.batchSize)
    val cut = bounded
      .withColumn("batch_idx",
        ((row_number().over(Window.orderBy(cursorOrder(sr): _*)) - 1)
          / sr.batchSize).cast("long"))
    deliver(cut, sr, rel)
  }

  /** LIVE serve of a `_stream` subscription: per trigger, the new rows
    * past the cursor are delivered in `batchSize` pages (`batch_idx`
    * numbers pages GLOBALLY across triggers) and the cursor advances
    * to the last delivered value. Matches [[streamPages]] exactly when
    * triggers align to page boundaries (spec-pinned); a partial last
    * page per trigger is Hasura's own behavior (page composition
    * depends on arrival, row ORDER does not).
    *
    * At-least-once inputs are safe: rows at-or-below the cursor are
    * dropped (redelivery of anything already served), and within a
    * trigger the pool dedups on the cursor column. The documented
    * Hasura caveat carries over: a LATE row arriving below the
    * already-advanced cursor is never delivered — `_stream` is a
    * cursor scan, not a retraction stream. State is one scalar (the
    * cursor) — nothing snapshot-sized lives across triggers.
    * Relationship predicates in the where need `rel` ([[flagJoined]]:
    * key sets pinned at attach). */
  def streamServe(stream0: DataFrame, sr0: StreamRequest,
      rel: Option[(org.apache.spark.sql.SparkSession, String)] = None)
      (push: (Long, DataFrame) => Unit): StreamingQuery = {
    // a nested selection without the directory context would only
    // surface when the first NON-EMPTY trigger reaches deliver() —
    // an async StreamingQueryException minutes in; loud at attach
    // instead, like the sibling serve paths
    require(sr0.nested.isEmpty || rel.isDefined,
      s"${sr0.table}_stream: relationship selections need the table " +
        "directory — serve through the (s, dir) overloads")
    val (stream, sr) = flagJoined(stream0, sr0, rel, "streamServe")
    var cursor: Option[Seq[Any]] = sr.initialTuple
    var pagesDone: Long = 0L
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val arrived = Seq(Some(nonNullCursor(sr)),
            sr.where.map(_.toColumn),
            cursor.map(pastCursor(sr, _)))
          .flatten.foldLeft(batch)(_.filter(_))
          .dropDuplicates(sr.cursorFields)
          .localCheckpoint(true)
        val n = arrived.count()
        if (n > 0) {
          // page cut: a steady-state trigger (a few pages) rides one
          // partition-less window — one task sorting a few thousand
          // rows is the right plan; a BACKFILL trigger must not
          // total-order millions through one task, so past the
          // threshold the cut goes range-partitioned (see rangePaged)
          val paged = deliver(
            if (n <= RangeCutRows)
              arrived.orderBy(cursorOrder(sr): _*)
                .withColumn("batch_idx", lit(pagesDone) +
                  ((row_number().over(
                    Window.orderBy(cursorOrder(sr): _*))
                    - 1) / sr.batchSize).cast("long"))
            else rangePaged(arrived, sr, pagesDone),
            sr, rel)
          // the advanced cursor is the extreme TUPLE in stream order
          // (struct ordering IS lexicographic) over rows whose EVERY
          // component is non-null — the single-column min/max skipped
          // nulls, and a null component in the cursor would wedge the
          // resume predicate (every comparison answers NULL) and
          // silently deliver nothing forever
          val lastRow = arrived
            .filter(sr.cursorFields.map(col(_).isNotNull)
              .reduce(_ && _))
            .agg((if (sr.ascending)
              max(struct(sr.cursorFields.map(col): _*))
            else min(struct(sr.cursorFields.map(col): _*)))
              .as("c"))
            .head.getStruct(0)
          push(pagesDone, paged)
          pagesDone += (n + sr.batchSize - 1) / sr.batchSize
          if (lastRow != null) cursor = Some(lastRow.toSeq)
        }
        ()
      }
      .start()
  }
}
