package graft.validate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema._
import graft.expr.ExprCompiler

/** @param strictReferenceParity when true, skip assertions referencing more
  *   than one column, exactly like the reference (kyepy `loader.py:121`
  *   evaluates an assertion only when it touches exactly one edge). The
  *   default evaluates every assertion — predicate columns make the general
  *   case free (documented superset, SURVEY §2.4-W1).
  * @param abortOnEmpty replicate the reference's early abort when an
  *   intermediate table becomes empty (kyepy `loader.py:64-65,128-129,…`).
  *   Each check is a driver-side `isEmpty` action — right for the parity
  *   path, wrong at 10^12-row scale; the scale path
  *   ([[graft.transcript.TranscriptValidator]]) fuses verdicts instead.
  * @param rowIdCol name of the stable row-identity column the caller must
  *   provide (the reference relies on the pandas positional index,
  *   `loader.py:36-41`, which has no distributed analogue).
  * @param maxGroupValues hard cap on the distinct values a `many`-edge
  *   survivor array materializes per group (S6). The aggregate keeps the
  *   cap+1 SMALLEST distinct values with a bounded buffer
  *   ([[graft.functions.BoundedDistinctSet]]) — one hot key with 10^9
  *   distinct values costs cap+1 buffer slots, not an OOM. Groups that
  *   overflow keep their (truncated, sorted-ascending) array in the
  *   survivors and additionally report a `TruncatedValues` violation row
  *   per member. Cardinality verdicts (missing / multiple) are exact at
  *   any cap ≥ 1. Verdicts and survivor value SETS match the reference
  *   whenever every group holds ≤ cap distinct values (all fixtures do,
  *   by orders of magnitude); many-edge survivor arrays are sorted
  *   ascending for distributed determinism, whereas the reference's
  *   pandas `unique` keeps first-appearance order — element ORDER is a
  *   documented deviation, not a bit-for-bit match.
  */
final case class ValidatorConfig(
    strictReferenceParity: Boolean = false,
    abortOnEmpty: Boolean = true,
    rowIdCol: String = "_row",
    maxGroupValues: Int = 10000)

/** @param survivors the cleaned, index-grouped table (None = model aborted,
  *   like the reference returning None from `Loader.load`).
  * @param cached intermediate stage caches backing `violations`/`survivors`
  *   — call [[cleanup]] once both are consumed so long-lived sessions
  *   (servers, multi-model runs) don't pin executor storage. */
final case class ValidationResult(
    violations: DataFrame,
    survivors: Option[DataFrame],
    droppedColumns: Seq[String],
    cached: Seq[DataFrame] = Nil) {
  def cleanup(): Unit = cached.foreach(_.unpersist())
}

/** The 8-stage validation pipeline of the reference loader
  * (kyepy `kye/vm/loader.py:32-202`) re-expressed as declarative Spark
  * transforms, one private stage function per reference stage:
  *
  *  - S1 `conform`: projection + title→name rename, drop unknown columns
  *  - S2 `missingIndex`: driver-side schema check
  *  - S3 `typeCheck`: static dtype comparison + implicit cast via the
  *    schema's coercion edges; column-level all-or-nothing verdict enforced
  *    with ONE aggregate job batching every column's try-cast null-delta
  *  - S4 `assertions`: Catalyst-compiled predicate columns, null = vacuous
  *    pass (`coalesce(p, true)` — deliberate deviation from the reference's
  *    silent null-row drop, SURVEY §2.4-W2)
  *  - S5 `subIndex`: sub-index functional dependency, groupBy(subKey)
  *    min/max/count of the full key
  *  - S6 `groupByKey`: cardinality verdicts — ONE shuffle computes every
  *    column's per-group distinct count, the grouped value, and the key
  *  - S7 `indexConflicts`: union of key projections, min != max entity
  *  - S8 `survivors`: the surviving grouped table
  *
  * Each stage maps a [[Validator.State]] to the next one (`Right`) or to
  * an abort (`Left`) carrying the violations and caches collected so far.
  * Progressive filtering is preserved: rows failing a stage never reach
  * later stages.
  */
class Validator(schema: CompiledSchema, config: ValidatorConfig = ValidatorConfig()) {
  import Validator.{State, Step}

  private val rowId = config.rowIdCol

  def validate(modelName: String, input: DataFrame): ValidationResult = {
    require(input.columns.contains(rowId),
      s"input must carry a stable row-id column '$rowId' (use Validator.withRowIds)")
    val model = schema.models.getOrElse(modelName,
      throw new IllegalArgumentException(s"Source '$modelName' not found"))
    val run = for {
      s1 <- conform(model, input)
      s2 <- missingIndex(model, s1)
      s3 <- typeCheck(model, s2)
      s4 <- assertions(model, s3)
      s5 <- subIndex(model, s4)
      keyed = keyedRows(model, s5.df)
      s6 <- groupByKey(model, s5, keyed)
      s7 <- indexConflicts(model, s6, keyed)
    } yield s7
    run.fold(result(_, None), s => result(s, Some(survivors(s))))
  }

  private def result(s: State, survivors: Option[DataFrame]): ValidationResult =
    ValidationResult(unionAll(s.df.sparkSession, s.violations), survivors,
      s.dropped, s.cached)

  /** The one empty-table guard. `probe` says whether this stage checks for
    * emptiness at all; only then is `out.isEmpty` run (one driver action).
    * Parity: every reference empty-abort sits under a mask/drop guard
    * (`if not mask.all():` / `if len(drop_columns):`, loader.py:113-200)
    * — a table that was ALREADY empty flows through to an empty survivors
    * table; only a stage that actually dropped something aborts on empty.
    * `dropped` is evaluated after the probe, and only in parity mode. */
  private def guard(s: State, probe: Boolean, dropped: => Boolean = true): Step =
    if (probe && s.df.isEmpty && (!config.strictReferenceParity || dropped)) Left(s)
    else Right(s)

  /** Anti-joins away every row whose `key` is in any of `bad`
    * (union → distinct → left_anti), then guards against an empty result. */
  private def dropKeys(s: State, bad: Seq[DataFrame], key: String, cache: Boolean): Step = {
    val allBad = bad.reduce(_ union _).distinct()
    val kept = s.df.join(allBad, Seq(key), "left_anti")
    guard(if (cache) s.cachedAs(kept) else s.copy(df = kept), config.abortOnEmpty,
      !allBad.isEmpty)
  }

  // ---- S1: conform columns (rename titles, drop unknown) ------------------

  private def conform(model: Model, input: DataFrame): Step = {
    val colNameMap: Map[String, String] =
      model.edges.values.map(e => e.title.getOrElse(e.name) -> e.name).toMap
    val (known, dropped) = input.columns.toSeq.filterNot(_ == rowId).partition(colNameMap.contains)
    if (dropped.nonEmpty)
      System.err.println(s"Warning: Table '${model.name}' had extra columns: ${dropped.mkString(",")}")
    val s = State(
      input.select((col(rowId) +: known.map(c => col(c).as(colNameMap(c)))): _*),
      known.map(colNameMap), Vector.empty, Vector.empty, dropped)
    if (known.isEmpty) Left(s) // all columns dropped ⇒ empty table (loader.py:64-65)
    // reference control flow: the empty-table abort after dropping extras
    // runs BEFORE the missing-index check and only when a drop actually
    // happened (loader.py:63-65 sits inside `if len(drop_columns)`), so a
    // zero-row table with extra columns aborts silently — no MissingIndex
    // rows. A clean zero-row table does NOT abort there.
    else guard(s, config.strictReferenceParity && dropped.nonEmpty)
  }

  // ---- S2: missing index columns (driver-side, no job) --------------------

  private def missingIndex(model: Model, s: State): Step = {
    val missingIdx = model.index.filterNot(s.dataCols.contains)
    if (missingIdx.isEmpty) Right(s)
    else Left(s.withViolations(Violations.local(s.df.sparkSession, missingIdx.map { c =>
      ("MissingIndex", model.name, None, Some(c), model.edge(c).loc, None)
    })))
  }

  // ---- S3: column type check + implicit cast ------------------------------

  /** Batches every column's cast null-delta into one aggregate job (the
    * reference runs a python try/except per column, `loader.py:96-105`).
    * A wrongly typed index column aborts; other wrongly typed columns are
    * dropped. */
  private def typeCheck(model: Model, s: State): Step = {
    // reference: an empty column is "nothing to check" (get_column_type
    // returns None, loader.py:88-90) — zero-row tables skip the type stage
    // entirely, emitting no InvalidType verdicts and keeping every column.
    // A parity run that dropped columns in S1 already probed there and
    // found rows, so it is not probed again.
    val skip = config.strictReferenceParity && s.dropped.isEmpty && s.df.isEmpty
    val typed = if (skip) Right(s) else castColumns(model, s)
    typed.flatMap { t =>
      if (t.dataCols.isEmpty) Left(t)
      // scale path: abortOnEmpty gives up on an empty stage output. Parity
      // path: the reference aborts on emptiness only AFTER an actual drop
      // (column drop in S1, row-mask drop in S4) — a clean zero-row table
      // flows through to an EMPTY survivors table, not a None abort.
      else guard(t.cachedAs(t.df), config.abortOnEmpty && !config.strictReferenceParity)
    }
  }

  private def castColumns(model: Model, s: State): Step = {
    val df0 = s.df

    sealed trait Plan
    case object Ok extends Plan
    case object Bad extends Plan
    final case class NeedsCast(program: List[Cmd]) extends Plan

    val plans: Seq[(String, Plan)] = s.dataCols.map { c =>
      val edge = model.edge(c)
      val dt = df0.schema(c).dataType
      val elem = dt match { case ArrayType(e, _) => e; case other => other }
      val inferred = inferTypeName(elem)
      val plan: Plan =
        if (inferred == edge.tpe) Ok
        else if (!schema.types.contains(edge.tpe))
          throw new UnsupportedOperationException(s"Unknown type '${edge.tpe}'")
        else schema.types.get(inferred).flatMap(_.edges.get(edge.tpe)) match {
          case Some(castEdge) if castEdge.expr.isDefined => NeedsCast(castEdge.expr.get)
          case _ => Bad
        }
      c -> plan
    }

    // evaluate all pending casts' null-deltas in one job. The source
    // column's Spark type feeds the compile as its tag so type-directed
    // opcodes in user-defined cast programs (e.g. a bool {cast:"str"}
    // rendering "True"/"False" Python-style) behave as on the assertion
    // path — the natives only cast Number<->String, but custom types may
    // declare richer conversions.
    val pending = plans.collect { case (c, NeedsCast(p)) => c -> p }
    def sparkTag(dt: DataType): ExprCompiler.Tag = ExprCompiler.Tag.ofDataType(dt)
    val castCols: Map[String, Column] = pending.map { case (c, program) =>
      val full = Cmd.one(Op.COL, c) :: program
      val casted = df0.schema(c).dataType match {
        case ArrayType(elem, _) =>
          transform(col(c), x =>
            ExprCompiler.compile(full, _ => x, colTag = _ => sparkTag(elem)))
        case dt => ExprCompiler.compile(full, colTag = _ => sparkTag(dt))
      }
      c -> casted
    }.toMap
    val castFailed: Set[String] =
      if (pending.isEmpty) Set.empty
      else {
        val guards = pending.map { case (c, _) =>
          val bad = df0.schema(c).dataType match {
            case ArrayType(_, _) =>
              exists(zip_with(col(c), castCols(c), (o, n) => o.isNotNull && n.isNull), identity)
            case _ => col(c).isNotNull && castCols(c).isNull
          }
          sum(when(bad, 1L).otherwise(0L)).as(c)
        }
        val row = df0.agg(guards.head, guards.tail: _*).collect()(0)
        pending.map(_._1).filter(c => row.getAs[Long](c) > 0).toSet
      }

    // castFailed only holds NeedsCast columns
    val wrongType = plans.collect { case (c, p) if p == Bad || castFailed(c) => c }
    val reported = s.withViolations(wrongType.map { c =>
      val e = model.edge(c)
      Violations.local(df0.sparkSession,
        Seq(("InvalidType", model.name, None, Some(c), e.loc, Some(e.tpe))))
    }: _*)
    if (wrongType.exists(model.index.contains)) Left(reported)
    else {
      val keep = s.dataCols.filterNot(wrongType.contains)
      Right(reported.copy(
        df = df0.select((col(rowId) +: keep.map { c =>
          if (castCols.contains(c) && !castFailed(c)) castCols(c).as(c) else col(c)
        }): _*),
        dataCols = keep))
    }
  }

  // ---- S4: assertions as predicate columns --------------------------------

  private def assertions(model: Model, s: State): Step = {
    val applicable = model.assertions.filter { a =>
      if (config.strictReferenceParity)
        a.edges.size == 1 && s.dataCols.contains(a.edges.head)
      else a.edges.forall(s.dataCols.contains)
    }
    if (applicable.isEmpty) Right(s)
    else {
      val df = s.df
      val preds = applicable.map(a => a -> assertionVerdict(df, a))
      // null verdict = vacuous pass for violation reporting (see class doc).
      // A zero-edge (constant) assertion still yields one violation row per
      // failing row — explode over the empty edge list would silently
      // swallow it. Array-edge assertions ALSO report one row per failing
      // ROW: the reference VM dedups (row, value) pairs on every stack pop
      // (vm.py:26-30), so a row whose distinct elements all fail collapses
      // to ONE False entry in result[~result] [verified by execution:
      // vals=[-5,-5,-7] yields a single AssertionFailed row]. A row with
      // MIXED element verdicts crashes the reference outright ("cannot
      // reindex on an axis with duplicate labels" in `mask &= result`,
      // loader.py:124) — documented deviation: here it fails the row cleanly
      // instead of crashing.
      val reported = s.withViolations(preds.map { case (a, p) =>
        Violations.project(df.filter(!coalesce(p, lit(true))), rowId, lit("AssertionFailed"),
          model.name, Violations.edges(a.edges), Violations.text(a.loc), lit(a.msg))
      }: _*)
      val (survivorPreds, anyFired) =
        if (config.strictReferenceParity) {
          // Reference wart W2 (loader.py:123-126): when an assertion has at
          // least one strictly-failing row, null-valued rows are ALSO
          // silently dropped from the survivors (index misalignment in
          // `mask &= result`). One batched job decides which assertions
          // fired.
          val flags = preds.zipWithIndex.map { case ((_, p), i) =>
            sum(when(!coalesce(p, lit(true)), 1L).otherwise(0L)).as(s"_f$i")
          }
          val row = df.agg(flags.head, flags.tail: _*).collect()(0)
          val fired = preds.indices.map(i => !row.isNullAt(i) && row.getLong(i) > 0)
          // strict: null drops too
          (preds.zip(fired).map { case ((_, p), f) => if (f) p else lit(true) }, fired.contains(true))
        } else (preds.map { case (_, p) => coalesce(p, lit(true)) }, false)
      // NOT cached: the parent df is already materialized (S3 cache), and
      // this is just a codegen'd predicate over it — a second cache would
      // hold a near-full second copy of the table at every scale to save
      // re-evaluating cheap predicates on cache reads.
      // Parity: the reference's post-mask empty abort (loader.py:128-129)
      // runs only when a mask actually dropped rows — an already-empty
      // table with no firing assertion flows on, it does not abort.
      guard(reported.copy(df = df.filter(survivorPreds.reduce(_ && _))),
        config.abortOnEmpty && (!config.strictReferenceParity || anyFired))
    }
  }

  /** S4 verdict column of one assertion over `df`: true = pass, false =
    * fail, null = vacuous. */
  private def assertionVerdict(df: DataFrame, a: graft.schema.Assertion): Column = {
    // NaN behaves like NULL at column load (reference explode().dropna()
    // drops BOTH), and `nanAbsent` extends that to NaN produced
    // MID-expression — the reference drops NaN at every stack push/pop,
    // so a float cast of "NaN" or an Infinity*0 makes the row absent
    import graft.expr.ExprCompiler.nanToNull
    def nanRef(name: String): Column = nanSafeCol(df, name)
    // declared-type tags for bool-is-int coercion (Python bools are
    // ints: the reference computes `col - True` / `col < True` as
    // numeric ops) — the post-S3 Spark schema is ground truth here
    def tagOf(dt: DataType): ExprCompiler.Tag = ExprCompiler.Tag.ofDataType(dt)
    val fieldIdx = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val schemaTag: String => ExprCompiler.Tag =
      n => fieldIdx.get(n).map(tagOf).getOrElse(ExprCompiler.Tag.Unknown)
    // Array-typed (many-cardinality) edges: the reference explodes and
    // evaluates PER ELEMENT — one violation entry per strictly-failing
    // non-null element (result[~result] carries duplicate row labels),
    // the row is dropped if any element fails, and it is vacuous when no
    // element evaluates. Only single-edge assertions can reference an
    // array column this way (every COL in the program IS the edge); the
    // reference itself runs ONLY single-edge assertions
    // (loader.py:120-121).
    a.edges match {
      case Seq(edge) if df.schema(edge).dataType.isInstanceOf[ArrayType] =>
        val elemType = df.schema(edge).dataType.asInstanceOf[ArrayType].elementType
        def elemRef(e: Column): String => Column = _ => elemType match {
          case DoubleType | FloatType => nanToNull(e)
          case _ => e
        }
        def perElem(e: Column): Column = {
          val (c, t) = ExprCompiler.compileWithTag(a.expr, elemRef(e),
            nanAbsent = true, colTag = _ => tagOf(elemType))
          // non-bool element verdicts follow the reference loader's
          // truthiness (nonzero/non-empty) — see ExprCompiler.asVerdict
          ExprCompiler.asVerdict(c, t)
        }
        val arr = col(edge)
        val fails = filter(arr, e => !coalesce(perElem(e), lit(true)))
        val anyEval = exists(arr, e => perElem(e).isNotNull)
        // Rows whose cell is null / empty / all-null-elements are ABSENT
        // from the reference's exploded+dropna'd series — but a STACKED
        // literal in the program pushes a FULL-index series, and the
        // outer-join alignment re-instates absent rows with the
        // left-NaN-poison rule (runtime-fuzz 7101 case 0213: str(b)!='x'
        // AND VAL-false fails the null-celled row too). Compiling the
        // program with COL := NULL yields exactly that completion: null
        // (vacuous) for alignment-free programs, the poisoned constant
        // when a stacked op re-instates the row.
        val absentVerdict = perElem(lit(null).cast(elemType))
        when(arr.isNotNull && coalesce(anyEval, lit(false)), size(fails) === 0)
          .otherwise(absentVerdict)
      case edges =>
        edges.find(e => df.schema(e).dataType.isInstanceOf[ArrayType]).foreach { e =>
          throw new UnsupportedOperationException(
            s"assertion '${a.msg}' references array-typed edge '$e' together with " +
              "other edges — multi-edge assertions over many-valued columns are " +
              "not supported (the reference runs single-edge assertions only)")
        }
        val (c, t) = ExprCompiler.compileWithTag(a.expr, nanRef,
          nanAbsent = true, colTag = schemaTag)
        // a non-bool FINAL verdict (e.g. int64 `a & 4`, now compiled
        // bitwise) follows the reference loader's truthiness: all rows
        // nonzero -> silent pass (exact parity); any zero -> the
        // reference crashes in result[~result] (label indexing on an
        // int series) and the row-wise completion here is the
        // documented crash-class deviation
        ExprCompiler.asVerdict(c, t)
    }
  }

  // ---- S5: sub-index functional dependency --------------------------------

  private def subIndex(model: Model, s: State): Step = {
    if (model.indexes.size <= 1) Right(s)
    else {
      val df = s.df
      // full key mirrors nunique-with-dropna: NaN full keys map to null
      // (countDistinct then ignores them exactly like pandas nunique), and
      // the reference flags nunique != 1 — a sub-key group whose full keys
      // are ALL missing reads nunique = 0 and is flagged/dropped too
      val fullKey = keyStructNanSafe(df, model.index)
      val badRowSets = model.indexes.map { subIdx =>
        // NaN sub-keys behave like null ones: pandas groupby drops the NaN
        // label (no verdict), and the plain equi-join back then misses the
        // null key — without the mapping, Spark groups NaN AND matches it
        // in the join (NaN = NaN in joins), emitting NonUniqueSubIndex
        // rows the reference never produces
        val tagged = df.withColumn("_sk", keyStructNanSafe(df, subIdx))
        // nunique != 1 WITHOUT a distinct aggregate (which plans as two
        // exchanges): over the non-null full keys of a group,
        // nunique >= 2 ⟺ min != max and nunique = 0 ⟺ count = 0 — the
        // same trichotomy trick S6 uses for scalar edges. min/max/count
        // share one single-phase hash aggregate (one exchange), with
        // constant-size buffers under hot keys either way.
        val badKeys = tagged.groupBy(col("_sk"))
          .agg(count(fullKey).as("_c"), min(fullKey).as("_mn"), max(fullKey).as("_mx"))
          .filter(!(col("_c") > 0 && col("_mn") <=> col("_mx")))
          .select("_sk")
        subIdx -> tagged.join(badKeys, "_sk").select(col(rowId))
      }
      val reported = s.withViolations(badRowSets.map { case (subIdx, badRows) =>
        Violations.project(badRows, rowId, lit("NonUniqueSubIndex"), model.name,
          Violations.edges(subIdx), Violations.text(model.loc))
      }: _*)
      dropKeys(reported, badRowSets.map(_._2), rowId, cache = true)
    }
  }

  // ---- S6: cardinality verdicts + group-by-key (one shuffle) --------------

  /** Row id → index key of every row entering S6. Violation row ids are
    * recovered by joining the (sparse) failing-key set back to this
    * projection — never by collecting row-id lists per group, which would
    * materialize O(rows) list cells in the aggregate. */
  private def keyedRows(model: Model, df: DataFrame): DataFrame =
    df.select(col(rowId), keyStructNanSafe(df, model.index).as("_key"))

  private def groupByKey(model: Model, s: State, keyedRows: DataFrame): Step = {
    val df = s.df
    val dataCols = s.dataCols
    // NaN index components behave like null ones (see nanSafeCol)
    val key = keyStructNanSafe(df, model.index)
    // Scalar single-valued edges avoid any per-group set materialization:
    // "multiple distinct values" ⟺ min != max, "missing" ⟺ count == 0,
    // grouped value = min — bounded memory under hot keys (SURVEY §4
    // spill note). `many` edges and physically-array columns collect their
    // (semantically required) distinct value sets through a HARD-bounded
    // buffer (BoundedDistinctSet, cap+1 smallest values) — never
    // collect_set/collect_list, whose buffers are O(group).
    sealed trait Mode
    case object Scalar extends Mode
    case object SetOf extends Mode
    case object ArrayOf extends Mode
    val modes: Map[String, Mode] = dataCols.map { c =>
      val isArray = df.schema(c).dataType.isInstanceOf[ArrayType]
      val e = model.edge(c)
      c -> (if (isArray) ArrayOf else if (e.many) SetOf else Scalar)
    }.toMap
    val cap = config.maxGroupValues
    // reference parity: pandas `dropna()` drops NaN as well as null
    // (loader.py:155-159), so NaN must not count as a distinct value, win
    // a min/max, or survive into grouped values — map it to NULL before
    // aggregating (Spark aggregates then skip it like the reference's drop)
    def nanSafe(c: String): Column = nanSafeCol(df, c)
    // Scalar INDEX-COMPONENT columns need no aggregate at all: the group
    // key fixes their (NaN-mapped) value, so within a group min = max =
    // the key component and the 0/1/>1 trichotomy collapses to
    // "0 iff the component is null, else 1". Their value and _n are
    // projected from _key after the aggregate — fewer buffer fields per
    // group at every scale. (Array-typed index components, if ever
    // allowed, still aggregate: the key is their nanSafe'd array value
    // but per-ELEMENT distinct counts are not derivable from it.)
    def keyComponent(c: String): Option[Column] =
      if (modes(c) == Scalar && model.index.contains(c))
        Some(if (model.index.size == 1) col("_key")
             else col("_key").getField(s"_${model.index.indexOf(c)}"))
      else None
    val aggExprs: Seq[Column] = dataCols.filter(keyComponent(_).isEmpty).flatMap { c =>
      modes(c) match {
        case ArrayOf | SetOf =>
          // distinct non-null values across the group — per-ELEMENT for
          // array columns (reference: explode().dropna().nunique(),
          // loader.py:157-159) — sorted ascending, bounded at cap+1 buffer
          // slots per group (the +1 marks truncation)
          Seq(graft.functions.BoundedDistinctSet
            .bounded_distinct_set(nanSafe(c), cap).as(s"_vals_$c"))
        case Scalar =>
          Seq(min(nanSafe(c)).as(s"_min_$c"), max(nanSafe(c)).as(s"_max_$c"),
            count(nanSafe(c)).as(s"_cnt_$c"))
      }
    }
    // a model whose every edge is an index component leaves no aggregate
    // expressions — keep one trivial count so the grouping still plans
    val grouped0 =
      if (aggExprs.isEmpty) df.groupBy(key.as("_key")).agg(count(lit(1)).as("_grp_n"))
      else df.groupBy(key.as("_key")).agg(aggExprs.head, aggExprs.tail: _*)
    // first non-null in row order is not distributed-stable; sorted-distinct
    // (= min for scalars) is. Groups where it matters (>1 distinct on a
    // single-valued edge) are dropped as MultipleValues anyway, so
    // survivors are unaffected.
    // Reference semantics for a NULL single-column index key: pandas
    // groupby(level=0) DROPS the NaN label, then reindex(fill_value=0)
    // reports nunique = 0 for EVERY edge — so the null-keyed group yields
    // MissingValue for each non-none edge (never MultipleValues, whatever
    // its real values) and, if it survives (all edges none=true), its
    // grouped values are null. Multi-column indexes are tuple labels in
    // the reference and are NOT dropped — real counts apply.
    val nullKeyGroup: Column =
      if (model.index.size == 1) col("_key").isNull else lit(false)
    val groupedCols: Seq[Column] =
      Seq(col("_key")) ++
        dataCols.map { c =>
          val e = model.edge(c)
          val raw = keyComponent(c).getOrElse(modes(c) match {
            case Scalar => col(s"_min_$c")
            case _ =>
              // already sorted ascending by the aggregate; drop the +1
              // truncation sentinel from many-edge survivor arrays
              val vals = col(s"_vals_$c")
              // `get` (not getItem) tolerates the empty group under ANSI
              if (e.many) slice(vals, 1, cap) else get(vals, lit(0))
          })
          when(nullKeyGroup, lit(null)).otherwise(raw).as(c)
        } ++
        dataCols.map { c =>
          val raw = keyComponent(c) match {
            case Some(k) => when(k.isNull, 0).otherwise(1)
            case None => modes(c) match {
              case Scalar =>
                // 0 when empty, 1 when single distinct, 2 as "more than one"
                when(col(s"_cnt_$c") === 0, 0)
                  .when(col(s"_min_$c") === col(s"_max_$c"), 1)
                  .otherwise(2)
              case _ => size(col(s"_vals_$c"))
            }
          }
          when(nullKeyGroup, 0).otherwise(raw).as(s"_n_$c")
        }
    val withGrouped = s.cachedAs(grouped0.select(groupedCols: _*))
    val grouped = withGrouped.df

    // per-(column, verdict) legs each filter `grouped` with a LITERAL err
    // column — deliberately NOT fused into one explode pass: the literal
    // lets consumers filtering on err (every driver query does) constant-
    // fold a leg's predicate and PRUNE the whole leg at optimize time; a
    // fused struct-array explode makes err data-dependent and forces all
    // S6 machinery into every such plan (measured: q_kye_subindex 10 -> 26
    // AQE jobs). The 2N cached-relation re-scans the legs cost are
    // cheap next to losing that pruning.
    // verdicts: (failing-group condition, err, whether it drops the group)
    val verdicts: Seq[(String, Column, String, Boolean)] = dataCols.flatMap { c =>
      val e = model.edge(c)
      val n = col(s"_n_$c")
      // exact despite the value cap: n is capped at cap+1 >= 2, so the
      // 0 / 1 / >1 trichotomy is never distorted
      val multiple =
        if (!e.many) Seq((c, n > 1, "MultipleValues", true))
        // overflow report (not a drop): the survivor keeps its truncated
        // sorted array; members are flagged so downstream consumers know
        // the value set is a prefix
        else Seq((c, n > cap, "TruncatedValues", false))
      val missing = if (!e.none) Seq((c, n === 0, "MissingValue", true)) else Nil
      multiple ++ missing
    }
    val badKeyParts = verdicts.map { case (c, cond, err, _) =>
      grouped.filter(cond).select(
        col("_key"), lit(err).as("err"), lit(c).as("col"),
        Violations.text(model.edge(c).loc).as("loc"))
    }
    val reported =
      if (badKeyParts.isEmpty) withGrouped
      else {
        val bad = badKeyParts.reduce(_ union _)
        // null-safe join: a single-column index key is the raw column, and a
        // group keyed by a NULL index value would never equi-join back to its
        // member rows (null != null) — its MissingValue violations would be
        // silently lost (the reference reports them, loader.py:149-169)
        withGrouped.withViolations(Violations.project(
          keyedRows.join(bad, keyedRows("_key") <=> bad("_key")), rowId,
          col("err"), model.name, col("col"), col("loc")))
      }
    val groupOk = verdicts.collect { case (_, cond, _, true) => !cond }
      .foldLeft(lit(true))(_ && _)
    // NOT cached: grouped is the materialized relation; the survivors are
    // a cheap predicate over it (same reasoning as the S4 survivor filter
    // — a second cache would double cache footprint at scale for nothing).
    // Drop source = groups failing a cardinality verdict (grouped is
    // cached, so the parity-mode guard probe is cheap).
    guard(reported.copy(df = grouped.filter(groupOk)), config.abortOnEmpty, !grouped.isEmpty)
  }

  // ---- S7: index-conflict across alternate keys ---------------------------

  private def indexConflicts(model: Model, s: State, keyedRows: DataFrame): Step = {
    if (model.indexes.size <= 1) Right(s)
    else {
      val gdf = s.df
      val pairs = for {
        i <- model.indexes.indices; j <- model.indexes.indices
        if i < j && model.indexes(i).size == model.indexes(j).size
      } yield (model.indexes(i), model.indexes(j))
      // per-pair (state with its cache + violations, affected key set)
      val (reported, affectedKeySets) =
        pairs.foldLeft((s, Vector.empty[DataFrame])) { case ((acc, affected), (idx1, idx2)) =>
          // per-position comparison plan: identical physical types compare
          // raw; numeric/numeric pairs widen to double (a long 1 must
          // conflict with a double 1.0, like the reference's pandas compare,
          // loader.py:177-196); anything else is genuinely incomparable
          // NaN key values behave like null: pandas t.groupby(level=0)
          // drops the NaN label, so conflicts "at NaN" are never flagged —
          // Spark would both group NaN and match it in the join-back
          def nanNull(c: Column, t: DataType): Column = t match {
            case DoubleType | FloatType => ExprCompiler.nanToNull(c)
            case _ => c
          }
          val fieldPlans = idx1.zip(idx2).map { case (a, b) =>
            (gdf.schema(a).dataType, gdf.schema(b).dataType) match {
              case (ta, tb) if ta == tb =>
                Some((nanNull(col(a), ta), nanNull(col(b), tb)))
              case (_: NumericType, _: NumericType) =>
                Some((nanNull(col(a).cast("double"), DoubleType),
                  nanNull(col(b).cast("double"), DoubleType)))
              case _ => None
            }
          }
          if (fieldPlans.forall(_.isDefined)) {
            val (cols1, cols2) = fieldPlans.flatten.unzip
            // ONE exchange + ONE materialization for both consumers: cache
            // the union AFTER the explicit repartition(_v) — the cached
            // relation keeps its HashPartitioning(_v), so the conflicts
            // groupBy adds no new exchange and the join-back is
            // partition-local on both sides (shuffle_hash blocks a broadcast
            // that would erase the boundary and re-run the union per
            // consumer — the round-2 jaccard lesson). Plain exchange reuse
            // would also serve, but AQE stage reuse does not match
            // exchanges whose children scan an InMemoryRelation (verified
            // empirically on 4.1) and gdf IS cached, so materialize t once
            // instead. The isNotNull is semantics-preserving — the inner
            // join never matched null key values (mirroring the reference's
            // dropped NaN group labels) — and keeps the cache slim.
            // both key projections in ONE pass over gdf (explode of a 2-array
            // — the fieldPlans widening above makes the two sides share one
            // type), instead of a 2-leg union that scanned gdf twice
            val t = gdf
              .select(explode(array(keyCols(cols1), keyCols(cols2))).as("_v"), col("_key"))
              .filter(col("_v").isNotNull).repartition(col("_v")).cache()
            // "more than one distinct entity" without a distinct aggregate
            // (two exchanges): min != max over the group's non-null keys —
            // all-null or single-key groups read min <=> max and drop, like
            // countDistinct <= 1 did
            val conflicts = t.groupBy("_v")
              .agg(min(col("_key")).as("_mn"), max(col("_key")).as("_mx"))
              .filter(!(col("_mn") <=> col("_mx"))).select("_v")
            // one occurrence per (key, sub-index side) whose key VALUE group
            // conflicts — NOT a distinct key set: the reference lists a row
            // once per invalid occurrence in the concatenated series
            // (loader.py:190-196, `t[...]` before dedup), so a row whose
            // idx1-key AND idx2-key both collide is reported TWICE per edge
            // (runtime-fuzz case 0198, seed 5002)
            val occurrences = t.hint("shuffle_hash")
              .join(conflicts.hint("shuffle_hash"), "_v")
              .select(col("_key"))
            val violations = Violations.project(
              keyedRows.join(occurrences, keyedRows("_key") <=> occurrences("_key")), rowId,
              lit("IndexConflict"), model.name, Violations.edges((idx1 ++ idx2).distinct),
              Violations.text(model.loc))
            (acc.holding(t).withViolations(violations),
              affected :+ occurrences.distinct())
          } else {
            System.err.println(s"Warning: index-conflict check skipped for " +
              s"incomparable key pair (${idx1.mkString(",")}) vs (${idx2.mkString(",")})")
            (acc, affected)
          }
        }
      if (affectedKeySets.isEmpty) Right(reported)
      else dropKeys(reported, affectedKeySets, "_key", cache = false)
    }
  }

  // ---- S8: surviving grouped table ----------------------------------------

  private def survivors(s: State): DataFrame = s.df.select(s.dataCols.map(col): _*)

  /** Physical dtype → Kye type name (reference infers from pandas dtype,
    * `loader.py:204-214`). */
  private def inferTypeName(dt: DataType): String = dt match {
    case BooleanType => "Boolean"
    case _: NumericType => "Number"
    case StringType => "String"
    case TimestampType => "Timestamp"
    case DateType => "Date"
    case other => other.simpleString
  }

  /** NaN → NULL for float/double columns (elementwise for arrays) —
    * pandas `dropna`/groupby drop NaN exactly like null, so NaN must
    * never form its own Spark group, match itself in a join-back
    * (Spark joins treat NaN = NaN, unlike null), count as distinct, or
    * win a min/max. */
  private def nanSafeCol(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case DoubleType | FloatType =>
      ExprCompiler.nanToNull(col(c))
    case ArrayType(DoubleType | FloatType, _) =>
      filter(col(c), x => !isnan(x))
    case _ => col(c)
  }

  /** Key struct over NaN-mapped columns: a NaN key component behaves like
    * a null one (reference groupby label semantics). */
  private def keyStructNanSafe(df: DataFrame, cols: Seq[String]): Column =
    keyCols(cols.map(nanSafeCol(df, _)))

  private def keyCols(cols: Seq[Column]): Column =
    if (cols.size == 1) cols.head
    else struct(cols.zipWithIndex.map { case (c, i) => c.as(s"_$i") }: _*)

  private def unionAll(spark: SparkSession, dfs: Seq[DataFrame]): DataFrame =
    if (dfs.isEmpty) Violations.empty(spark) else dfs.reduce(_ unionByName _)
}

object Validator {
  /** What flows from one stage to the next: the stage's table and its data
    * columns, plus the violations, caches and S1-dropped columns collected
    * so far (an abort reports them too). */
  private final case class State(
      df: DataFrame,
      dataCols: Seq[String],
      violations: Vector[DataFrame],
      cached: Vector[DataFrame],
      dropped: Seq[String]) {
    def withViolations(v: DataFrame*): State = copy(violations = violations ++ v)
    /** Records a cached side table for [[ValidationResult.cleanup]]. */
    def holding(c: DataFrame): State = copy(cached = cached :+ c)
    /** Caches `d` and makes it the stage's table. */
    def cachedAs(d: DataFrame): State = { val c = d.cache(); holding(c).copy(df = c) }
  }

  /** `Right` = go on to the next stage, `Left` = abort (survivors None). */
  private type Step = Either[State, State]

  /** Attach a stable 0-based row id reflecting input order (the analogue of
    * the reference's positional RangeIndex). Uses zipWithIndex — stable
    * w.r.t. partition order of the source, intended for test fixtures and
    * small CSV/JSON ingress tables; parquet ingress should use
    * [[withParquetRowIds]] (columnar, no RDD round-trip) and scale paths
    * anchor on natural keys instead. */
  def withRowIds(df: DataFrame, rowIdCol: String = "_row"): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField(rowIdCol, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Stable row identity for parquet ingress WITHOUT the RDD round-trip:
    * `_row = fileOrdinal << 40 | _metadata.row_index`, where the ordinal is
    * the file's rank in the lexicographically-sorted file list (driver-side
    * `inputFiles` — the FileIndex already holds it, no job) and
    * `row_index` is parquet's per-file positional metadata column. The scan
    * stays columnar and whole-stage-codegen'd; ids are stable across runs
    * and unique as long as no file holds ≥ 2^40 rows (a 1-TB row group
    * ceiling no real file reaches). For a single-file table this equals the
    * reference's 0-based positional RangeIndex exactly.
    *
    * The file→ordinal map rides a broadcast join keyed on the metadata
    * path; a path that misses the map (would silently lose rows) raises
    * instead. */
  def withParquetRowIds(spark: SparkSession, path: String, rowIdCol: String = "_row"): DataFrame = {
    val base = spark.read.parquet(path)
    val withMeta = base.select(
      col("*"),
      col("_metadata.file_path").as("_g_file"),
      col("_metadata.row_index").as("_g_idx"))
    // normalize through hadoop Path so the driver-side listing matches the
    // executor-side _metadata.file_path rendering (file:///x vs file:/x)
    val files = base.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).toString).sorted
    require(files.nonEmpty, s"no parquet files under $path")
    // the ordinal occupies bits 40..62: at >= 2^23 files it would shift
    // into the sign bit and ids silently collide or go negative
    require(files.length < (1 << 23),
      s"$path has ${files.length} files — positional row ids support at " +
        "most 2^23-1 files; pass --row-key to anchor rows on a data column")
    import spark.implicits._
    val ordinals = files.zipWithIndex.map { case (f, i) => (f, i.toLong) }
      .toSeq.toDF("_g_file", "_g_ord")
    withMeta.join(broadcast(ordinals), Seq("_g_file"), "left")
      .withColumn(rowIdCol,
        shiftleft(
          coalesce(col("_g_ord"),
            raise_error(concat(lit("parquet row-id: unknown file "), col("_g_file")))),
          40).bitwiseOR(col("_g_idx")))
      .drop("_g_file", "_g_idx", "_g_ord")
  }
}
