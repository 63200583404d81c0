package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Ast._
import graft.functions.{MathFunctions => M, PathFunctions => P, TextFunctions => T, VectorFunctions => V}

/** AST → DataFrame lowering.
  *
  * The reference binds expressions to closures and interprets them
  * (`/root/reference/sql/sql_expression.h:95-260`, executors in
  * `core/bound_queries.cc`); we lower to Catalyst `Column` trees and
  * let Spark do ALL optimization and execution — zero interpretation
  * code of our own, so pushdown/pruning/codegen apply to dialect
  * queries exactly as to native DataFrame code.
  *
  * MLDB semantics preserved here:
  *  - unknown column reference → NULL, not an analyzer error
  *    (`doc/builtin/sql/ValueExpression.md:23`);
  *  - `NAMED <expr>` materializes as a `rowName` output column;
  *  - `WHEN <expr>` is the wide-mode row-timestamp filter with
  *    `value_timestamp()` bound to the `ts` column (per-cell fidelity
  *    needs EAV mode — documented divergence, SURVEY §1.4);
  *  - `DISTINCT ON (k)` keeps the first row per key in ORDER BY order
  *    (`sql/sql_expression.cc:3087-3100`);
  *  - equality `=` is null-safe-NOT: null = null → null (tri-logic).
  */
/** The reference's simulated allocation failure
  * (`_fail_memory_allocation()` — testing/MLDB-1355): binding the
  * builtin throws this, and the REST layer renders it with the
  * `details.context.error` envelope the test asserts. */
final class OomSimulated(msg: String) extends RuntimeException(msg)

object Lowering {

  final case class Context(spark: SparkSession, tables: String => DataFrame,
      params: Map[String, Any] = Map.empty,
      macros: Map[String, Seq[SelectItem]] = Map.empty,
      lookups: Map[String, ParamLookup] = Map.empty,
      rowPivots: Map[String, RowPivot] = Map.empty,
      columnFns: Map[String, ColumnFn] = Map.empty)

  /** A NATIVELY-lowered appliable function (model entities like
    * `classifier`): receives the application's lowered arguments —
    * each with its resolved row type when the argument is row-valued
    * and its raw AST (literal parameters like numNeighbors read off
    * it) — and returns the function's output ROW column. The plan
    * stays a pure expression; nothing re-parses, nothing
    * substitutes. */
  final case class ColumnFn(build: Map[String,
    (Column, Option[org.apache.spark.sql.types.StructType],
      Ast.Expr)] => Column)

  /** A `sql.query` whose FROM is `row_dataset($arg)` (MLDB-1315):
    * the inner query pivots the ARGUMENT row into (column, value)
    * cells, transforms them, and `output` pivots the result back.
    * The reference materializes a per-call dataset; here the argument
    * row's schema is static at every call site, so the whole inner
    * query unrolls PER FIELD at plan time — `column` binds to the
    * field-name literal, `value` to the typed field expression, the
    * WHERE becomes a per-field keep condition, and no dataset, shuffle
    * or driver pass exists at runtime. */
  final case class RowPivot(param: String, stmt: Select, output: String)

  /** A $param-ized `sql.query` function made dialect-callable
    * (MLDB-784: `patate({rowName() as id}) as *`). The reference
    * re-executes the inner SELECT per outer row; the distributed
    * equivalent ships the (bounded) inner result as a PLAN-LITERAL
    * key→row map and applies it as a per-row map probe — a broadcast
    * lookup with zero shuffles. `params` are the $names in
    * registration order; `entries` key = param values joined with
    * the \\u0001 separator; `schema` types the output row (null on no match). */
  final case class ParamLookup(params: Seq[String],
      entries: Seq[(String, Seq[Any])],
      schema: org.apache.spark.sql.types.StructType)

  /** One FROM-scope frame: optional alias + the DataFrame. */
  private final case class Scope(frames: Seq[(Option[String], DataFrame)]) {
    def allColumns: Seq[(Option[String], String)] =
      frames.flatMap { case (a, df) => df.columns.map(c => (a, c)) }
    def hasColumn(name: String): Boolean =
      allColumns.exists(_._2.equalsIgnoreCase(name))
    def hasQualified(alias: String, name: String): Boolean =
      frames.exists { case (a, df) =>
        a.exists(_.equalsIgnoreCase(alias)) &&
          df.columns.exists(_.equalsIgnoreCase(name))
      }
  }

  /** Static Spark type of an expression when it is knowable without
    * lowering: a literal, or a column resolvable in the scope. Used by
    * functions whose reference semantics branch on the runtime value
    * type (implicit_cast) — the typed analog branches on the static
    * type at plan time. */
  private def staticType(scope: Scope,
      e: Expr): Option[org.apache.spark.sql.types.DataType] = e match {
    case StrLit(_) => Some(org.apache.spark.sql.types.StringType)
    case Ident(Seq(n)) => scope.frames.iterator.flatMap { case (_, df) =>
      df.schema.fields.find(_.name.equalsIgnoreCase(n))
    }.map(_.dataType).nextOption()
    case Ident(Seq(q, n)) => scope.frames.iterator.collect {
      case (Some(al), df) if al.equalsIgnoreCase(q) => df
    }.flatMap(_.schema.fields.find(_.name.equalsIgnoreCase(n)))
      .map(_.dataType).nextOption()
    case _ => None
  }

  /** Resolve a lowered column's type by schema-only analysis against
    * the scope's frames — no data pass, plan-time milliseconds. Used
    * only where static typing can't answer (row-literal splats). */
  private def resolvedTypeOf(scope: Scope,
      c: Column): Option[org.apache.spark.sql.types.DataType] =
    scope.frames.iterator.flatMap { case (a, df) =>
      try Some(df.select(c).schema.head.dataType)
      catch {
        // a column this frame cannot resolve fails analysis: try the
        // next reading, and report no type if none resolves
        case scala.util.control.NonFatal(_) =>
          // alias-qualified references (`alias`.`col` from star
          // expansion) need the frame's alias re-attached — a frame
          // that went through filter/projection rebuilds may have
          // dropped its SubqueryAlias (the MLDB-961 agg-context probe)
          a.flatMap { al =>
            try Some(df.as(al).select(c).schema.head.dataType)
            catch { case scala.util.control.NonFatal(_) => None }
          }
      }
    }.nextOption()

  private def structFieldsOf(scope: Scope, c: Column): Option[Seq[String]] =
    resolvedTypeOf(scope, c) match {
      case Some(st: org.apache.spark.sql.types.StructType) =>
        Some(st.fieldNames.toSeq)
      case _ => None
    }

  /** Lift a scalar repair element-wise over rows/embeddings
    * (MLDB-917). `floatOnly` repairs (nan/inf) touch only
    * float-typed struct fields — an integer cell can't be NaN;
    * replace_null applies to every field. */
  private def shapewise(scope: Scope, c: Column, floatOnly: Boolean,
      f: Column => Column): Column =
    resolvedTypeOf(scope, c) match {
      case Some(st: org.apache.spark.sql.types.StructType) =>
        struct(st.fields.toSeq.map { fld =>
          val g = c.getField(fld.name)
          val out = fld.dataType match {
            case org.apache.spark.sql.types.DoubleType |
                 org.apache.spark.sql.types.FloatType => f(g.cast("double"))
            case _ if !floatOnly => f(g)
            case _ => g
          }
          out.as(fld.name)
        }: _*)
      case Some(at: org.apache.spark.sql.types.ArrayType) =>
        // recurse into NESTED embeddings (MLDB-1317 2-D quantize)
        def rec(cc: Column,
            dt: org.apache.spark.sql.types.DataType): Column = dt match {
          case a2: org.apache.spark.sql.types.ArrayType =>
            transform(cc, x => rec(x, a2.elementType))
          case _ => if (floatOnly) f(cc.cast("double")) else f(cc)
        }
        rec(c, at)
      case _ => f(c)
    }

  /** A row literal used where a vector is expected reads as the array
    * of its field values (MLDB-953 `normalize({1,2,3,4}, 1)`). */
  private def toVector(scope: Scope, c: Column): Column =
    resolvedTypeOf(scope, c) match {
      case Some(st: org.apache.spark.sql.types.StructType) =>
        array(st.fieldNames.toSeq.map(f => c.getField(f).cast("double")): _*)
      case _ => c
    }

  /** Literal p for norm/normalize: a number or `inf` (MLDB-953). */
  private def pLiteral(e: Option[Expr]): Double = e match {
    case None => 2.0
    case Some(NumLit(v, _)) => v.toDouble
    case Some(Unary("-", NumLit(v, _))) => -v.toDouble
    case Some(Ident(Seq(n))) if n.equalsIgnoreCase("inf") =>
      Double.PositiveInfinity
    case Some(other) => throw new IllegalArgumentException(
      s"norm/normalize p must be a numeric literal or inf, got $other")
  }

  /** Statically bag-valued (map-typed) shapes. Bags have no native
    * Spark ordering; the reference compares rows/bags by their SORTED
    * (column, value) entry list (MLDB-989's tokenize comparisons) —
    * `array_sort(map_entries(x))` IS that list, and Spark orders
    * arrays-of-structs lexicographically, so wrapping both operands
    * reproduces the reference's ordering exactly. */
  private def bagShaped(scope: Scope, e: Expr): Boolean = e match {
    case FnCall("tokenize", _, _) => true
    case CaseWhen(_, bs, oe) =>
      (bs.map(_._2) ++ oe.toSeq).exists(bagShaped(scope, _))
    case _ => staticType(scope, e)
      .exists(_.isInstanceOf[org.apache.spark.sql.types.MapType])
  }

  private def bagEntries(c: Column): Column = array_sort(map_entries(c))

  // --- canonical mixed-type sort keys (MLDB-989) ---------------------------
  //
  // The reference defines ONE total order over every value
  // (`sql/expression_value.cc:4578` ExpressionValue::operator<:
  // NULL < atom < row < embedding, then `sql/cell_value.cc:1104`
  // CellValue::operator<: numbers (NaN first) < strings < timestamps
  // < blobs; rows/embeddings compare as their sorted (path, cell)
  // entry lists). Spark's type system has no such cross-type order,
  // so ORDER BY expressions whose CASE branches disagree on type (or
  // are row-shaped) lower to a canonical SORT-KEY STRUCT instead:
  // `(t, r, n, s, e)` = (value-kind rank, atom rank, numeric slot,
  // string slot, entry-list slot). Struct and array ordering in Spark
  // are both lexicographic, so sorting by this struct reproduces the
  // reference's order exactly. Plan-time only — the key is built from
  // each branch's STATIC type; nothing is interpreted per row.
  private val entryKeyType = "array<struct<p:string,r:int,n:double,s:string>>"
  private def noEntries: Column = lit(null).cast(entryKeyType)

  /** Atom rank per `cell_value.cc:1104`: NaN(1) < number(2) <
    * string(3) < timestamp(4) < blob(6). (EMPTY cells rank 0; rank 5
    * is reserved for intervals, compared as rows of their fields.) */
  private def atomKeyParts(c: Column,
      dt: org.apache.spark.sql.types.DataType): (Column, Column, Column) = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType | FloatType =>
        (when(isnan(c), lit(1)).otherwise(lit(2)),
          when(isnan(c), lit(0.0)).otherwise(c.cast("double")), lit(""))
      case _: NumericType => (lit(2), c.cast("double"), lit(""))
      case BooleanType => (lit(2), c.cast("int").cast("double"), lit(""))
      case StringType => (lit(3), lit(0.0), c)
      case TimestampType | DateType | TimestampNTZType =>
        (lit(4), c.cast("timestamp").cast("double"), lit(""))
      case BinaryType => (lit(6), lit(0.0), hex(c)) // hex is byte-order-monotone
      case _ => (lit(3), lit(0.0), c.cast("string"))
    }
  }

  /** One (path, cell) entry of a row/embedding/bag entry list. */
  private def cellEntryKey(path: Column, c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = {
    val (r, n, s) = atomKeyParts(c, dt)
    struct(path.as("p"),
      when(c.isNull, lit(0)).otherwise(r).as("r"),
      coalesce(n, lit(0.0)).as("n"),
      coalesce(s, lit("")).as("s"))
  }

  /** Flatten a struct to its sorted dotted-path atom entries — the
    * reference's `asRow` + sorted Structured storage
    * (`expression_value.cc:4499`). Plan-time recursion: schemas are
    * static, so nesting unrolls into a flat literal entry list. */
  private def structEntries(c: Column,
      st: org.apache.spark.sql.types.StructType,
      prefix: String = ""): Seq[Column] =
    st.fields.toSeq.sortBy(f => prefix + f.name).flatMap { f =>
      val path = prefix + f.name
      f.dataType match {
        case nested: org.apache.spark.sql.types.StructType =>
          structEntries(c.getField(f.name), nested, path + ".")
        case dt => Seq(cellEntryKey(lit(path), c.getField(f.name), dt))
      }
    }

  /** Canonical sort key for a value of static type `dt`. Total order:
    * NULL(0) < atom(1) < row/bag(2) < embedding(3), per
    * `expression_value.cc:4578`. */
  private def sortKeyFor(c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    val keyed = dt match {
      case st: StructType =>
        struct(lit(2).as("t"), lit(0).as("r"), lit(0.0).as("n"),
          lit("").as("s"),
          array(structEntries(c, st): _*).cast(entryKeyType).as("e"))
      case at: ArrayType =>
        struct(lit(3).as("t"), lit(0).as("r"), lit(0.0).as("n"),
          lit("").as("s"),
          transform(c, x => cellEntryKey(lit(""), x, at.elementType))
            .cast(entryKeyType).as("e"))
      case mt: MapType => // bags order as their sorted entry list
        struct(lit(2).as("t"), lit(0).as("r"), lit(0.0).as("n"),
          lit("").as("s"),
          transform(array_sort(map_entries(c)),
            kv => cellEntryKey(kv.getField("key").cast("string"),
              kv.getField("value"), mt.valueType))
            .cast(entryKeyType).as("e"))
      case NullType => nullSortKey
      case atom =>
        val (r, n, s) = atomKeyParts(c, atom)
        struct(lit(1).as("t"), r.as("r"), coalesce(n, lit(0.0)).as("n"),
          coalesce(s, lit("")).as("s"), noEntries.as("e"))
    }
    when(c.isNull, nullSortKey).otherwise(keyed)
  }

  private def nullSortKey: Column =
    struct(lit(0).as("t"), lit(0).as("r"), lit(0.0).as("n"),
      lit("").as("s"), noEntries.as("e"))

  /** An ORDER BY expression needs the canonical key when its CASE
    * branches are row-shaped or disagree on static type — exactly the
    * shapes Spark's per-type ordering can't express (MLDB-989). */
  private def mixedTypeShaped(scope: Scope, e: Expr): Boolean = e match {
    case CaseWhen(_, bs, oe) =>
      val types = (bs.map(_._2) ++ oe.toSeq).filterNot {
        case NullLit() => true
        case _ => false
      }.map(v => resolvedTypeOf(scope, lowerExpr(scope, v)))
      val rowShaped = types.exists {
        case Some(_: org.apache.spark.sql.types.StructType) => true
        case _ => false
      }
      // numerics co-resolve natively and Spark's numeric order is the
      // reference's; only genuinely cross-kind branches need the key
      val kinds = types.flatten.map {
        case _: org.apache.spark.sql.types.NumericType => "num"
        case dt => dt.simpleString
      }
      rowShaped || kinds.distinct.size > 1
    case _ => false
  }

  /** Lower a mixed-type CASE as a chain of per-branch canonical sort
    * keys — each branch's key is built from its own static type, and
    * all keys share one struct type, so the CASE unifies. */
  private def mixedCaseSortKey(scope: Scope, cw: CaseWhen): Column = {
    val CaseWhen(operand, branches, orElse) = cw
    val cond: Expr => Column = operand match {
      case Some(op) => c => lowerExpr(scope, op) === lowerExpr(scope, c)
      case None => c => lowerExpr(scope, c)
    }
    def keyOf(v: Expr): Column = v match {
      case NullLit() => nullSortKey
      case other =>
        val c = lowerExpr(scope, other)
        resolvedTypeOf(scope, c) match {
          case Some(dt) => sortKeyFor(c, dt)
          case None => throw new IllegalArgumentException(
            s"cannot order by CASE branch $other: unresolvable type")
        }
    }
    val first = when(cond(branches.head._1), keyOf(branches.head._2))
    val chained = branches.tail.foldLeft(first) { case (acc, (c, v)) =>
      acc.when(cond(c), keyOf(v))
    }
    chained.otherwise(orElse.map(keyOf).getOrElse(nullSortKey))
  }

  /** Statically embedding-valued (array-typed) shapes — embedding
    * arithmetic is element-wise in the reference (MLDB-953). */
  private def arrayShaped(scope: Scope, e: Expr): Boolean = e match {
    case ArrayLit(_) => true
    case FnCall("normalize", _, _) => true
    case FnCall("replace_nan" | "replace_inf" | "replace_not_finite" |
        "replace_null", args, _) =>
      args.headOption.exists(arrayShaped(scope, _))
    case Binary("+" | "-" | "*" | "/" | "%", l, r) =>
      arrayShaped(scope, l) || arrayShaped(scope, r)
    case _ => staticType(scope, e)
      .exists(_.isInstanceOf[org.apache.spark.sql.types.ArrayType])
  }

  /** Statically string-valued shapes — the reference's `+` CONCATENATES
    * when either operand is a string (`sql_expression_operations.cc`
    * binaryPlus: `l.isString() || r.isString()` → utf8 concat;
    * MLDB-410 `NAMED rowName() + '_transformed'`). */
  private def stringShaped(scope: Scope, e: Expr): Boolean = e match {
    case StrLit(_) => true
    case CastExpr(_, "string") => true
    case FnCall(n, _, _) => Set("rowname", "leftrowname", "rightrowname",
      "lower", "upper", "trim", "ltrim", "rtrim", "substring", "substr",
      "concat", "replace", "remove_prefix", "remove_suffix",
      "stringify_path")(n)
    case Binary("+" | "||", l, r) =>
      stringShaped(scope, l) || stringShaped(scope, r)
    case _ => staticType(scope, e)
      .contains(org.apache.spark.sql.types.StringType)
  }

  /** Statically timestamp-valued shapes — `ts ± integer` counts DAYS
    * in the reference (binaryPlusOnTimestamp). */
  private def timestampShaped(scope: Scope, e: Expr): Boolean = e match {
    case FnCall("to_timestamp" | "latest_timestamp" | "earliest_timestamp", _, _) => true
    case CastExpr(_, "timestamp") => true
    case _ => staticType(scope, e)
      .contains(org.apache.spark.sql.types.TimestampType)
  }

  private def integerShaped(scope: Scope, e: Expr): Boolean = e match {
    case NumLit(_, integral) => integral
    case Unary("-", x) => integerShaped(scope, x)
    case _ => staticType(scope, e).exists {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
  }

  def run(ctx: Context, stmt: Select): DataFrame =
    // DynamicVariable = thread-local: concurrent GraftSql.query calls
    // (RestServer scenario) each see their own params/macros.
    dynParams.withValue(ctx.params) {
      dynMacros.withValue(ctx.macros) {
        dynLookups.withValue(ctx.lookups) {
          dynRowPivots.withValue(ctx.rowPivots) {
            dynColumnFns.withValue(ctx.columnFns) {
              dynTables.withValue(ctx.tables) {
                lowerSelect(ctx, stmt)
              }
            }
          }
        }
      }
    }

  // ---- FROM ----------------------------------------------------------------

  private def lowerTable(ctx: Context, t: TableExpr): (DataFrame, Scope) = t match {
    case TableRef(name, alias) =>
      val df0 = ctx.tables(name)
      val df = alias.map(df0.alias).getOrElse(df0.alias(name))
      (df, Scope(Seq(Some(alias.getOrElse(name)) -> df0)))
    case SubSelect(stmt, alias) =>
      val inner0 = lowerSelect(ctx, stmt)
      // a no-FROM SELECT names its single row 'result' (MLDB-1639,
      // MLDB-1841 test_distincton_pipeline) — carry it so joins
      // compose `[result]-[…]`
      val inner =
        if (stmt.from.isEmpty && stmt.named.isEmpty &&
            !inner0.columns.exists(_.equalsIgnoreCase("rowName")))
          inner0.withColumn("rowName", lit("result"))
        else inner0
      (inner.alias(alias), Scope(Seq(Some(alias) -> inner)))
    case JoinExpr(l, r, jt, on) =>
      val (ld, ls) = lowerTable(ctx, l)
      val (rd, rs) = lowerTable(ctx, r)
      val scope = Scope(ls.frames ++ rs.frames)
      val joined = (jt, on) match {
        case ("cross", None) => ld.crossJoin(rd)
        case (_, Some(cond)) => ld.join(rd, lowerExpr(scope, cond), jt)
        case ("inner", None) => ld.crossJoin(rd) // reference CROSS via ON true
        case (other, None) =>
          // the reference treats an ON-less outer join as ON true —
          // every pair matches, WHERE then filters (MLDB-1639
          // test_join_outer_where)
          ld.join(rd, lit(true), other)
      }
      (joined, scope)
    case TableFn(name, tables, args, Some(al)) =>
      // alias the table function's frame so `t.col` and joined
      // row-name composition see it (MLDB-1639)
      val (df0, _) = lowerTable(ctx, TableFn(name, tables, args, None))
      val aliased = df0.alias(al)
      (aliased, Scope(Seq(Some(al) -> aliased)))
    case TableFn(name, tables, args, None) => name match {
      case "merge" =>
        val lowered = tables.map(lowerTable(ctx, _))
        val merged = lowered.map(_._1.drop("__alias__")).reduce { (a, b) =>
          graft.operators.Reshape.merge(a, b, "rowName")
        }
        (merged, Scope(Seq(None -> merged)))
      case "union" =>
        val lowered = tables.map(lowerTable(ctx, _)._1)
        val u = lowered.reduce(_.unionByName(_, allowMissingColumns = true))
        (u, Scope(Seq(None -> u)))
      case "transpose" =>
        // transpose(t): rows become columns; the new column set (one
        // per input row) must be enumerable driver-side — the same
        // practical bound the reference's transposed_dataset has
        // (`builtin/transposed_dataset.cc:393`), so cap it like a
        // schema, not a dataset.
        val (df, _) = lowerTable(ctx, tables.head)
        val idCol = if (df.columns.contains("rowName")) "rowName"
          else df.columns.head
        val keyed = df.withColumn(idCol, col(idCol).cast("string"))
        val ids = PlanTime.keys(keyed, col(idCol), "transpose")
        // the transposed dataset's ROWS are the original columns — name
        // them in the rowName slot so rowName() works downstream
        // (MLDB-1631's join on x.rowName())
        // melt unions the value columns into ONE — its type must hold
        // them all. A schema-time decision: all-numeric sources keep
        // numbers (double transposition stays the identity on types —
        // MLDB-494); anything mixed falls back to string
        val valueTypes = keyed.schema.fields
          .filterNot(_.name == idCol).map(_.dataType).toSet
        val castTo =
          if (valueTypes.forall(_.isInstanceOf[
              org.apache.spark.sql.types.NumericType])) {
            if (valueTypes.forall(t2 =>
                t2 == org.apache.spark.sql.types.LongType ||
                t2 == org.apache.spark.sql.types.IntegerType ||
                t2 == org.apache.spark.sql.types.ShortType ||
                t2 == org.apache.spark.sql.types.ByteType)) "long"
            else "double"
          } else "string"
        val t = graft.operators.Reshape.transpose(keyed, idCol, ids, castTo)
          .withColumnRenamed("column", "rowName")
        (t, Scope(Seq(None -> t)))
      case "sample" =>
        val (df, _) = lowerTable(ctx, tables.head)
        val s = args.headOption match {
          case Some(NumLit(v, _)) => df.sample(withReplacement = false,
            v.toDouble, seed = 42L)
          case Some(StructLit(fields)) =>
            val fm = fields.toMap
            val seed = fm.get("seed") match {
              case Some(NumLit(sd, _)) => sd.toLong
              case _ => 42L
            }
            (fm.get("fraction"), fm.get("rows")) match {
              case (Some(NumLit(f, _)), _) =>
                df.sample(withReplacement = false, f.toDouble, seed)
              case (_, Some(NumLit(n, _))) =>
                // {rows: N} (`builtin/sampled_dataset.cc` rows mode):
                // deterministic pseudo-random N rows via hash order —
                // plans as TakeOrdered (top-N per partition + merge),
                // never a full sort materialization
                df.orderBy(xxhash64(df.columns.toSeq.map(col) :+ lit(seed): _*))
                  .limit(n.toInt)
              case _ => throw new IllegalArgumentException(
                "sample options: {fraction: f | rows: n [, seed: s]}")
            }
          case None => df.sample(withReplacement = false, 0.1, seed = 42L)
          case _ => throw new IllegalArgumentException(
            "sample(t, fraction | {fraction | rows [, seed]})")
        }
        (s, Scope(Seq(None -> s)))
      case "atom_dataset" if tables.nonEmpty =>
        // atom_dataset(t): the whole TABLE as one row per cell —
        // (rowName, column, value, ts). This is the dialect's bridge
        // into EAV mode: on the atomized table the ROW-level WHEN is
        // exactly the reference's per-cell WHEN semantics
        // (`sql/sql_expression.cc:4054-4109`). rowName = existing
        // rowName column, else the first column; ts = existing ts
        // column, else NULL.
        val (df, _) = lowerTable(ctx, tables.head)
        val rowNameCol =
          if (df.columns.exists(_.equalsIgnoreCase("rowName"))) col("rowName")
          else col(df.columns.head)
        val tsCol =
          if (df.columns.exists(_.equalsIgnoreCase("ts"))) col("ts")
          else lit(null).cast("timestamp")
        val valueCols = df.columns.filterNot(c =>
          c.equalsIgnoreCase("rowName") || c.equalsIgnoreCase("ts")).toSeq
        val eav = graft.core.Eav.toEav(df, rowNameCol, tsCol, valueCols)
          // surface the variant's slots as typed columns for SELECTing
          .select(col("rowName"), col("column"),
            coalesce(col("value.num").cast("string"), col("value.str"),
              col("value.tsv").cast("string"),
              col("value.flag").cast("string")).as("value"),
            col("value.num").as("value_num"), col("ts"))
        (eav, Scope(Seq(None -> eav)))
      case "row_dataset" | "atom_dataset" =>
        // one row per atom of the argument row literal
        // (`sql/table_expression_operations.cc:660-780`): columns
        // (column, value). Value type: common numeric type if every
        // atom is numeric, else string.
        val fields = args match {
          case Seq(StructLit(fs)) => fs
          // an embedding literal is a row with columns "0".."n-1"
          // (reference accepts row_dataset([0, 0]), MLDB-2065)
          case Seq(ArrayLit(items)) =>
            items.zipWithIndex.map { case (e, i) => i.toString -> e }
          case _ => throw new IllegalArgumentException(
            "row_dataset expects a row literal {a: 1, b: 2} or an embedding [..]")
        }
        val emptyScope = Scope(Nil)
        val allNumeric = fields.forall {
          case (_, NumLit(_, _)) => true
          case (_, Unary("-", NumLit(_, _))) => true
          case _ => false
        }
        val castTo = if (allNumeric) "double" else "string"
        // atom index follows the reference's column order — paths sort
        // numerically when every element is a number, lexicographically
        // otherwise (MLDB-1639: {"toy story": 1, "terminator": 5} names
        // terminator row '0' and toy story row '1')
        val sortedFields =
          if (fields.forall(f => f._1.forall(_.isDigit) && f._1.nonEmpty))
            fields.sortBy(_._1.toLong)
          else fields.sortBy(_._1)
        val cells = sortedFields.map { case (n, v) =>
          struct(lit(n).as("column"),
            lowerExpr(emptyScope, v).cast(castTo).as("value"))
        }
        val df = ctx.spark.range(1)
          .select(posexplode(array(cells: _*)).as(Seq("pos", "cell")))
          // rowName = atom index (reference row_dataset row naming,
          // `table_expression_operations.cc:660-780`) — makes
          // merge(row_dataset(…), row_dataset(…)) line rows up
          .select(col("pos").cast("string").as("rowName"),
            col("cell.column").as("column"), col("cell.value").as("value"))
        (df, Scope(Seq(None -> df)))
      case other =>
        throw new IllegalArgumentException(s"unsupported table function $other")
    }
  }

  // ---- expression lowering -------------------------------------------------

  private val dynParams = new scala.util.DynamicVariable[Map[String, Any]](Map.empty)
  private val dynMacros = new scala.util.DynamicVariable[Map[String, Seq[SelectItem]]](Map.empty)
  private val dynLookups = new scala.util.DynamicVariable[Map[String, ParamLookup]](Map.empty)
  private val dynRowPivots = new scala.util.DynamicVariable[Map[String, RowPivot]](Map.empty)
  private val dynTables =
    new scala.util.DynamicVariable[String => DataFrame](name =>
      throw new IllegalArgumentException(s"no table resolver for '$name'"))
  private def currentParams = dynParams.value
  private def currentMacros = dynMacros.value
  private val dynColumnFns =
    new scala.util.DynamicVariable[Map[String, ColumnFn]](Map.empty)
  private def currentLookups = dynLookups.value
  private def currentRowPivots = dynRowPivots.value
  private def currentColumnFns = dynColumnFns.value

  /** substitute argument names for expressions inside a macro body. */
  private def substitute(e: Expr, args: Map[String, Expr]): Expr = e match {
    case Ident(Seq(n)) if args.contains(n) => args(n)
    // `input.x` reads field x of the substituted row argument
    // (MLDB-1012 nested sql.expression calls)
    case Ident(parts) if parts.length > 1 && args.contains(parts.head) =>
      parts.tail.foldLeft(args(parts.head))((acc, p) =>
        Extract(acc, StrLit(p)))
    case FnCall(n, as, st) => FnCall(n, as.map(substitute(_, args)), st)
    case FnApply(n, as, o) =>
      FnApply(n, as.map { case (k, v) => k -> substitute(v, args) }, o)
    case Binary(op, l, r) => Binary(op, substitute(l, args), substitute(r, args))
    case Unary(op, x) => Unary(op, substitute(x, args))
    case CaseWhen(op, br, oe) => CaseWhen(op.map(substitute(_, args)),
      br.map(b => (substitute(b._1, args), substitute(b._2, args))),
      oe.map(substitute(_, args)))
    case CastExpr(x, t) => CastExpr(substitute(x, args), t)
    case Between(x, lo, hi, n) => Between(substitute(x, args),
      substitute(lo, args), substitute(hi, args), n)
    case InList(x, items, n) =>
      InList(substitute(x, args), items.map(substitute(_, args)), n)
    case IsNull(x, n) => IsNull(substitute(x, args), n)
    case IsType(x, t, n) => IsType(substitute(x, args), t, n)
    case InKeysOf(x, c, n, k) =>
      InKeysOf(substitute(x, args), substitute(c, args), n, k)
    case LikeExpr(x, p, n) => LikeExpr(substitute(x, args), substitute(p, args), n)
    case Extract(x, k) => Extract(substitute(x, args), substitute(k, args))
    case ArrayLit(items) => ArrayLit(items.map(substitute(_, args)))
    case StructLit(fs) => StructLit(fs.map { case (k, v) => k -> substitute(v, args) })
    case other => other
  }

  /** Parsed `tokenize`/`token_extract` option row (reference
    * TokenizeOptions incl. legacy snake_case names, tokenize.cc:23-80;
    * unknown fields are an error there too). */
  private final case class TokOpts(split: String, quote: String,
      minLen: Int, ngram: (Int, Int), offset: Int, limit: Int,
      value: Option[Expr])

  private def tokenizeOptions(arg: Option[Expr], fn: String): TokOpts = arg match {
    case None => TokOpts(",", "", 1, (1, 1), 0, -1, None)
    case Some(StructLit(fields)) =>
      val opts = fields.map { case (k, v) =>
        k.toLowerCase.replace("_", "") -> v }.toMap
      val known = Set("splitchars", "quotechar", "mintokenlength",
        "ngramrange", "offset", "limit", "value")
      (opts.keySet -- known).foreach(k => throw new IllegalArgumentException(
        s"Unknown field '$k' parsing $fn configuration"))
      def intOf(e: Expr): Option[Int] = e match {
        case NumLit(v, _) => Some(v.toInt)
        case Unary("-", NumLit(v, _)) => Some(-v.toInt)
        case _ => None
      }
      def str(k: String, d: String) = opts.get(k) match {
        case Some(StrLit(s)) => s
        case None => d
        case Some(_) => throw new IllegalArgumentException(
          s"$fn option $k must be a string literal")
      }
      def num(k: String, d: Int) = opts.get(k) match {
        case Some(e) => intOf(e).getOrElse(throw new IllegalArgumentException(
          s"$fn option $k must be an integer literal"))
        case None => d
      }
      val ngram = opts.get("ngramrange") match {
        case Some(ArrayLit(Seq(lo, hi))) if intOf(lo).isDefined && intOf(hi).isDefined =>
          (intOf(lo).get, intOf(hi).get)
        case None => (1, 1)
        case Some(_) => throw new IllegalArgumentException(
          s"$fn option ngramRange must be a two-integer array")
      }
      TokOpts(str("splitchars", ","), str("quotechar", ""),
        num("mintokenlength", 1), ngram, num("offset", 0),
        num("limit", -1), opts.get("value"))
    case Some(_) => throw new IllegalArgumentException(
      s"$fn options must be a row literal {splitChars: …, ngramRange: [a,b], …}")
  }

  /** Static embedding dims of an expression, when the AST makes them
    * knowable: nested array literals, or reshape calls carrying a
    * literal shape. */
  private def staticDims(e: Expr): Option[Seq[Expr]] = e match {
    case ArrayLit(items) if items.nonEmpty =>
      items.head match {
        case inner @ ArrayLit(_) =>
          staticDims(inner).map(NumLit(BigDecimal(items.size), isIntegral = true) +: _)
        case _ => Some(Seq(NumLit(BigDecimal(items.size), isIntegral = true)))
      }
    case FnCall("reshape", args, _) if args.length >= 2 =>
      args(1) match {
        case ArrayLit(dims) => Some(dims)
        case _ => None
      }
    case _ => None
  }

  /** Static nesting depth (1 = flat array) — 0 when unknowable. */
  private def staticDepth(e: Expr): Int = staticDims(e).map(_.size).getOrElse(1)

  /** rowName() — single-frame queries read the carried rowName column;
    * after a JOIN the reference composes the sides' names as
    * `[left]-[right]` (`sql/join_utils.cc` row-name composition,
    * MLDB-180), which is also what makes the joined rowName unique. */
  private def rowNameOf(scope: Scope): Column = {
    // every aliased frame of a join contributes a side — a frame with
    // no rowName column at all (e.g. an empty sparse dataset) still
    // renders as [] (MLDB-2040 test_left_join_no_rhs names rows
    // `[row1]-[]` against a columnless right side)
    val sides = scope.frames.collect { case (Some(al), df) =>
      (al, df.columns.exists(_.equalsIgnoreCase("rowName")))
    }.distinct
    if (sides.size >= 2)
      // an outer join's missing side renders as [] (MLDB-1361)
      sides.map { case (al, hasName) =>
        val body = if (hasName)
          coalesce(col(s"$al.rowName").cast("string"), lit(""))
        else lit("")
        concat(lit("["), body, lit("]"))
      }.reduce((x, y) => concat(x, lit("-"), y))
    else if (scope.hasColumn("rowName")) col("rowName")
    // the no-FROM single-row select names its row 'result'
    // (MLDB-871/1616 — the reference's constant-select row name)
    else if (scope.frames.nonEmpty && scope.frames.forall(
        _._2.columns.sameElements(Array("__dummy"))))
      lit("result")
    else lit(null)
  }

  /** Statically boolean-valued AST shapes (for the arithmetic
    * boolean→int coercion above). */
  /** Syntactically certain plain-numeric-scalar shapes — the fast
    * gate that lets arithmetic over literals / numeric columns / CASE
    * over them skip every type-resolution probe in Binary lowering
    * (a generated polynomial would otherwise pay one Catalyst
    * analysis per node). */
  private def numericScalarShaped(scope: Scope, e: Expr): Boolean = e match {
    case NumLit(_, _) => true
    case Unary("-" | "+", x) => numericScalarShaped(scope, x)
    case Binary("+" | "-" | "*" | "/" | "%", l, r) =>
      numericScalarShaped(scope, l) && numericScalarShaped(scope, r)
    case Ident(_) => staticType(scope, e)
      .exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType])
    case CaseWhen(_, bs, oe) =>
      (bs.map(_._2) ++ oe.toSeq).forall(numericScalarShaped(scope, _))
    case CastExpr(_, t) => Set("int", "integer", "bigint", "long",
      "double", "float", "tinyint", "smallint")(t.toLowerCase)
    case _ => false
  }

  private def boolShaped(e: Expr): Boolean = e match {
    case BoolLit(_) | IsNull(_, _) | IsType(_, _, _) | LikeExpr(_, _, _) |
        Between(_, _, _, _) | InList(_, _, _) | InKeysOf(_, _, _, _) |
        InSelect(_, _, _) => true
    case Binary(op, _, _) =>
      Set("and", "or", "=", "!=", "<", ">", "<=", ">=")(op)
    case Unary("not", _) => true
    case _ => false
  }

  private def lowerExpr(scope: Scope, e: Expr): Column = e match {
    case FnApply(name, args, output) => currentMacros.get(name) match {
      case None if name.toLowerCase.startsWith("horizontal_") =>
        // horizontal_sum({a: x, b: y}) — row-literal argument form.
        // MLDB rows keep columns in name order, so order-sensitive
        // horizontal aggs (string_agg, earliest/latest) see the
        // fields alphabetically (MLDB-1554). A `{*}` argument expands
        // the scope's columns (MLDB-1500's
        // `sum(horizontal_count({*})) … from transpose(…)`).
        horizontalFn(name.toLowerCase,
          args.sortBy(_._1).flatMap {
            case ("*", s: Star) => expandStarCols(scope, s.excluding,
              s.prefix, s.rename, skipRowName = true)
            case (_, v) => Seq(lowerExpr(scope, v))
          })
      case None if name.toLowerCase == "tf_encodepng" =>
        // tf_EncodePng({image: …}) (MLDB-1979): named-argument form of
        // the pixel-embedding → PNG-blob encoder
        val img = args.collectFirst {
          case (k, v) if k.equalsIgnoreCase("image") => v
        }.getOrElse(throw new IllegalArgumentException(
          "tf_EncodePng expects an {image: …} argument"))
        lowerFn(scope, "tf_encodepng", Seq(lowerExpr(scope, img)),
          star = false, Seq(img))
      case None if Set("print_json", "hash", "value_timestamp",
          "latest_timestamp", "earliest_timestamp",
          "distinct_timestamps")(name.toLowerCase) =>
        // builtins whose single argument is a row literal parse as
        // FnApply; route them back to the registry
        val asStruct = StructLit(args)
        lowerFn(scope, name.toLowerCase,
          Seq(lowerExpr(scope, asStruct)), star = false, Seq(asStruct))
      case Some(items) =>
        // a `{<rowexpr> as *}` argument spreads the row's FIELDS as
        // named arguments (MLDB-873's derived-columns composition
        // `getDerived({mySt({keys: {*}}) as *})` — `counts.…` inside
        // the macro body must bind to the spread field)
        val spread: Seq[(String, Expr)] = args.collect {
          case ("*", v) if !v.isInstanceOf[Star] &&
              !v.isInstanceOf[StructLit] =>
            structFieldsOf(scope, lowerExpr(scope, v)).getOrElse(Seq.empty)
              .map(f => f -> (Extract(v, StrLit(f)): Expr))
        }.flatten
        val argMap = spread.toMap ++ args.toMap
        def itemFor(out: String): Expr = items.zipWithIndex.collectFirst {
          case (it, i) if it.alias.contains(out) => it.e
          case (it @ SelectItem(Ident(parts), None), _) if parts.last == out => it.e
        }.getOrElse(throw new IllegalArgumentException(
          s"function $name has no output '$out'"))
        output match {
          case Some(out) if out.contains(".") =>
            // a dotted output path reads deeper fields of the named
            // output (`f({…})[scores."Iris-setosa"]`, MLDB-647)
            val tok = "(\"(?:[^\"]|\"\")*\"|[^.]+)".r
            val segs = tok.findAllMatchIn(out).map(_.group(1)).map { t =>
              if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
                t.substring(1, t.length - 1).replace("\"\"", "\"")
              else t
            }.toSeq
            segs.tail.foldLeft(
              lowerExpr(scope, substitute(itemFor(segs.head), argMap)))(
              (c, f) => c.getField(f))
          case Some(out) => lowerExpr(scope, substitute(itemFor(out), argMap))
          case None if items.size == 1 &&
              !items.head.e.isInstanceOf[Star] =>
            val v = lowerExpr(scope, substitute(items.head.e, argMap))
            items.head.alias match {
              // a single SCALAR-aliased item is a one-field row
              // (MLDB-1440: `noIgnore({a:1,b:2}) as *` → column rez);
              // a ROW-valued one IS the function's output row already
              // (MLDB-1841: sql.query row functions alias `output`)
              case Some(alias)
                  if !resolvedTypeOf(scope, v).exists(
                    _.isInstanceOf[org.apache.spark.sql.types.StructType]) =>
                struct(v.as(alias))
              case _ => v
            }
          case None => struct(items.zipWithIndex.flatMap {
            // a bare `*` body (MLDB-797's void sql.expression) selects
            // every field of the argument row: `{*}` args expand to
            // the scope's columns, named args pass through by name
            case (SelectItem(Star(excl, "", rename), _), _) =>
              val exclSet = excl.map(_.toLowerCase).toSet
              args.flatMap {
                case ("*", s: Star) =>
                  expandStarCols(scope, (s.excluding ++ excl).distinct,
                    s.prefix, rename.orElse(s.rename), skipRowName = true)
                case (n, v) if !exclSet(n.toLowerCase) =>
                  Seq(lowerExpr(scope, substitute(v, argMap)).as(n))
                case _ => Nil
              }
            // `input.*` in a function body expands the ARGUMENT row's
            // fields, keeping the dotted names (MLDB-1707: columns
            // input.xx, input.xy)
            case (SelectItem(Star(excl, prefix, _), _), _)
                if prefix.nonEmpty &&
                  argMap.contains(prefix.stripSuffix(".")) =>
              val argN = prefix.stripSuffix(".")
              val exclSet = excl.map(_.toLowerCase).toSet
              argMap(argN) match {
                case StructLit(fs) => fs.collect {
                  case (n, v) if !exclSet(n.toLowerCase) =>
                    lowerExpr(scope, v).as(s"$argN.$n")
                }
                case other =>
                  val c = lowerExpr(scope, other)
                  structFieldsOf(scope, c).getOrElse(Seq.empty)
                    .filterNot(f => exclSet(f.toLowerCase))
                    .map(f => c.getField(f).as(s"$argN.$f"))
              }
            case (it, i) => Seq(lowerExpr(scope, substitute(it.e, argMap))
              .as(it.alias.getOrElse(s"_c$i")))
          }: _*)
        }
      case None if currentColumnFns.contains(name) =>
        // a natively-lowered model function (classifier /
        // classifier.explain entities): lower each argument once,
        // hand it to the builder with its resolved row type, and
        // extract the requested output field if the `[out]` form
        // was used
        val lowered = args.map { case (k, v) =>
          val c = lowerExpr(scope, v)
          val st = resolvedTypeOf(scope, c) match {
            case Some(s: org.apache.spark.sql.types.StructType) => Some(s)
            case _ => None
          }
          k -> ((c, st, v))
        }.toMap
        val outRow = currentColumnFns(name).build(lowered)
        output match {
          case Some(out) =>
            // the output name is a PATH (`[scores."Iris-setosa"]`
            // reads field Iris-setosa of row scores — MLDB-647)
            val tok = "(\"(?:[^\"]|\"\")*\"|[^.]+)".r
            val elems = tok.findAllMatchIn(out).map(_.group(1)).map { t =>
              if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
                t.substring(1, t.length - 1).replace("\"\"", "\"")
              else t
            }.toSeq
            elems.foldLeft(outRow)((c, f) => c.getField(f))
          case None => outRow
        }
      case None if currentRowPivots.contains(name) =>
        // sql.query over `row_dataset($arg)` applied per row
        // (MLDB-1315): the argument row's schema is static at this
        // call site, so the inner query unrolls per FIELD — `column`
        // binds to the field-name literal, `value` to the typed field
        // expression, WHERE becomes a keep condition (evaluated at
        // plan time when it doesn't touch the outer row). No per-call
        // dataset, no shuffle, no driver pass.
        val rp = currentRowPivots(name)
        val argMap = args.toMap
        val argE = argMap.getOrElse(rp.param,
          throw new IllegalArgumentException(
            s"function $name needs argument '${rp.param}'"))
        val fields: Seq[(String, Expr)] = argE match {
          case StructLit(fs) => fs
          case other =>
            val c = lowerExpr(scope, other)
            structFieldsOf(scope, c).getOrElse(
              throw new IllegalArgumentException(
                s"function $name: argument '${rp.param}' must be row-shaped"))
              .map(f => f -> (Extract(other, StrLit(f)): Expr))
        }
        // row_dataset cell order: numeric paths sort numerically,
        // otherwise by name (MLDB-1639)
        val sortedFields =
          if (fields.forall(f => f._1.nonEmpty && f._1.forall(_.isDigit)))
            fields.sortBy(_._1.toLong)
          else fields.sortBy(_._1)
        val sess = org.apache.spark.sql.SparkSession.active
        // evaluate a plan-static expression driver-side (1 row, no
        // data). The eval frame's single column carries a reserved name
        // (NOT range's default 'id') so an outer dataset column that
        // happens to be called 'id' fails resolution here and correctly
        // falls back to the per-row path instead of silently evaluating
        // with id=0.
        def evalStatic(c: Column): Option[Any] =
          try Some(sess.range(1).toDF("__pt_eval").select(c).head().get(0))
          catch { case scala.util.control.NonFatal(_) => None }
        require(rp.stmt.groupBy.isEmpty && rp.stmt.orderBy.isEmpty,
          s"function $name: GROUP BY/ORDER BY over row_dataset($$" +
            s"${rp.param}) is not supported")
        def nameOf(it: SelectItem, i: Int): String =
          it.alias.getOrElse(it.e match {
            case Ident(ps) => ps.last
            case _ => s"_c$i"
          })
        // keep condition per field: Left(static) or Right(per-row)
        def keepOf(bind: Map[String, Expr]): Either[Boolean, Column] =
          rp.stmt.where match {
            case None => Left(true)
            case Some(w) =>
              val c = lowerExpr(scope, substitute(w, bind))
              evalStatic(c) match {
                case Some(b: java.lang.Boolean) => Left(b)
                case Some(null) => Left(false)
                case _ => Right(c)
              }
          }
        val row: Column = rp.output.toUpperCase match {
          case "NAMED_COLUMNS" =>
            val nameIdx = rp.stmt.items.zipWithIndex.collectFirst {
              case (it, i) if nameOf(it, i).equalsIgnoreCase("column") => i
            }.getOrElse(throw new IllegalArgumentException(
              s"function $name: NAMED_COLUMNS output needs a 'column' item"))
            val valueItem = rp.stmt.items.zipWithIndex.collectFirst {
              case (it, i) if !nameOf(it, i).equalsIgnoreCase("column") &&
                  !nameOf(it, i).equalsIgnoreCase("rowName") => it
            }.getOrElse(throw new IllegalArgumentException(
              s"function $name: NAMED_COLUMNS output needs a value item"))
            val outFields = sortedFields.flatMap { case (n, vE) =>
              val bind = Map("column" -> (StrLit(n): Expr), "value" -> vE)
              keepOf(bind) match {
                case Left(false) => None
                case keep =>
                  val outName = evalStatic(lowerExpr(scope,
                    substitute(rp.stmt.items(nameIdx).e, bind))) match {
                    case Some(s) => String.valueOf(s)
                    case None => throw new IllegalArgumentException(
                      s"function $name: the output column name may not " +
                        "depend on the outer row")
                  }
                  val v = lowerExpr(scope, substitute(valueItem.e, bind))
                  Some(keep.fold(_ => v, cond => when(cond, v)).as(outName))
              }
            }
            require(outFields.nonEmpty,
              s"function $name: no cell of '${rp.param}' passes the WHERE")
            struct(outFields: _*)
          case _ => // FIRST_ROW: the first kept cell's select items
            val firstKept = sortedFields.iterator.map { case (n, vE) =>
              val bind = Map("column" -> (StrLit(n): Expr), "value" -> vE)
              (bind, keepOf(bind))
            }.collectFirst {
              case (bind, Left(true)) => bind
              case (_, Right(_)) => throw new IllegalArgumentException(
                s"function $name: FIRST_ROW over a row-dependent WHERE " +
                  "is not supported — use NAMED_COLUMNS")
            }.getOrElse(throw new IllegalArgumentException(
              s"function $name: no cell of '${rp.param}' passes the WHERE"))
            struct(rp.stmt.items.zipWithIndex.collect {
              case (it, i) if !nameOf(it, i).equalsIgnoreCase("rowName") =>
                lowerExpr(scope, substitute(it.e, firstKept))
                  .as(nameOf(it, i))
            }: _*)
        }
        output match {
          case Some(out) if out.equalsIgnoreCase("output") => row
          case Some(other) => throw new IllegalArgumentException(
            s"function $name has no output '$other'")
          case None => struct(row.as("output"))
        }

      case None if name.equalsIgnoreCase("pooling") =>
        // pooling function entity (`builtin/pooling_function.cc:182`,
        // MLDB-1119): aggregate the word embeddings of a bag of words.
        // The embedding table is vocab-sized and registered — it ships
        // as PLAN LITERALS (the word2vec broadcast pattern); per-row
        // work is pure column math over the bag's (static) fields.
        // Unmatched words are ignored; a row with no matches pools to
        // ZEROS (the reference's MLDB-1733 contract).
        val argMap = args.toMap
        val dsName = argMap.get("embeddingDataset") match {
          case Some(StrLit(s)) => s
          case _ => throw new IllegalArgumentException(
            "pooling needs embeddingDataset: '<name>'")
        }
        val aggs: Seq[String] = argMap.get("aggregators") match {
          case Some(ArrayLit(items)) => items.map {
            case StrLit(s) => s.toLowerCase
            case other => throw new IllegalArgumentException(
              s"pooling aggregator must be a string literal, got $other")
          }
          case None => Seq("avg")
          case _ => throw new IllegalArgumentException(
            "pooling aggregators must be an array of string literals")
        }
        val emb = dynTables.value(dsName)
        val embCols = emb.columns.filterNot(_.equalsIgnoreCase("rowName"))
        val rowNameIdx = emb.columns.indexWhere(_.equalsIgnoreCase("rowName"))
        require(rowNameIdx >= 0,
          s"pooling: embedding dataset '$dsName' needs a rowName column")
        val vectors: Map[String, Seq[Double]] =
          graft.sql.PlanTime.boundedRows(emb, graft.api.JsHost.maxQueryRows,
            s"pooling embedding dataset '$dsName'").map { r =>
            String.valueOf(r.get(rowNameIdx)) -> embCols.toSeq.map(c =>
              Option(r.get(emb.columns.indexOf(c)))
                .map(_.toString.toDouble).getOrElse(0.0))
          }.toMap
        val dims = embCols.length
        val wordsArg = argMap.getOrElse("words",
          throw new IllegalArgumentException(
            "pooling needs a 'words' row argument"))
        val fields = rowFieldsOf(scope, wordsArg).getOrElse(
          throw new IllegalArgumentException(
            "pooling: 'words' must be row-shaped"))
        val matched = fields.filter(f => vectors.contains(f._1))
        val zero = lit(0.0)
        val outDims: Seq[Column] =
          if (matched.isEmpty) Seq.fill(aggs.size * dims)(zero)
          else {
            val present = matched.map { case (w, c) =>
              (vectors(w), when(c.isNotNull, lit(1)).otherwise(lit(0)))
            }
            val cnt = present.map(_._2).reduce(_ + _)
            aggs.flatMap { agg =>
              (0 until dims).map { d =>
                val terms = present.map { case (vec, flag) =>
                  (vec(d), flag)
                }
                val body: Column = agg match {
                  case "avg" | "sum" =>
                    val s = terms.map { case (v, flag) =>
                      flag.cast("double") * lit(v)
                    }.reduce(_ + _)
                    if (agg == "avg") s / cnt.cast("double") else s
                  // greatest/least need >= 2 args in Spark; a bag whose
                  // single word matches the vocabulary uses the lone
                  // conditional column directly.
                  case "max" =>
                    val ts = terms.map { case (v, flag) =>
                      when(flag === 1, lit(v)) }
                    if (ts.length == 1) ts.head else greatest(ts: _*)
                  case "min" =>
                    val ts = terms.map { case (v, flag) =>
                      when(flag === 1, lit(v)) }
                    if (ts.length == 1) ts.head else least(ts: _*)
                  case other => throw new IllegalArgumentException(
                    s"pooling: unknown aggregator '$other'")
                }
                when(cnt === 0, zero).otherwise(body)
              }
            }
          }
        val row = struct(array(outDims: _*).as("embedding"))
        output match {
          case Some(out) if out.equalsIgnoreCase("embedding") =>
            row.getField("embedding")
          case Some(other) => throw new IllegalArgumentException(
            s"function $name has no output '$other'")
          case None => row
        }

      case None if name.equalsIgnoreCase("feature_hasher") =>
        // feature_hasher function entity
        // (`plugins/feature_gen/feature_generators.cc:155`, MLDB-775):
        // hash the argument row's columns into 2^numBits buckets named
        // hashColumn0..N-1. mode 'columns' buckets by COLUMN NAME
        // (static → grouped at plan time, pure sums); mode
        // 'columnsAndValues' buckets by name=value (runtime hash,
        // codegen'd, contribution 1 per non-null cell).
        val argMap = args.toMap
        val bits = argMap.get("numBits") match {
          case Some(NumLit(v, _)) => v.toInt
          case None => 8
          case _ => throw new IllegalArgumentException(
            "feature_hasher: numBits must be an integer literal")
        }
        require(bits >= 1 && bits <= 16,
          "feature_hasher: numBits must be in [1, 16]")
        val mode = argMap.get("mode") match {
          case Some(StrLit(s)) => s
          case None => "columns"
          case _ => throw new IllegalArgumentException(
            "feature_hasher: mode must be a string literal")
        }
        val rowArg = argMap.getOrElse("columns", args.collectFirst {
          case (k, v) if !Set("numBits", "mode")(k) => v
        }.getOrElse(throw new IllegalArgumentException(
          "feature_hasher needs a 'columns' row argument")))
        val fields = rowFieldsOf(scope, rowArg).getOrElse(
          throw new IllegalArgumentException(
            "feature_hasher: 'columns' must be row-shaped"))
        val n = 1 << bits
        val buckets: Seq[Column] = mode match {
          case "columns" =>
            val grouped = fields.groupBy { case (f, _) =>
              (scala.util.hashing.MurmurHash3.stringHash(f) & Int.MaxValue) % n
            }
            (0 until n).map { i =>
              grouped.get(i).map(_.map { case (_, c) =>
                coalesce(c.cast("double"), lit(0.0))
              }.reduce(_ + _)).getOrElse(lit(0.0)).as(s"hashColumn$i")
            }
          case "columnsAndValues" =>
            (0 until n).map { i =>
              fields.map { case (f, c) =>
                when(c.isNotNull && pmod(xxhash64(
                  concat(lit(f), lit("="), c.cast("string"))),
                  lit(n)) === i, lit(1.0)).otherwise(lit(0.0))
              }.reduce(_ + _).as(s"hashColumn$i")
            }
          case other => throw new IllegalArgumentException(
            s"feature_hasher: unknown mode '$other'")
        }
        val row = struct(struct(buckets: _*).as("hash"))
        output match {
          case Some(out) if out.equalsIgnoreCase("hash") =>
            row.getField("hash")
          case Some(other) => throw new IllegalArgumentException(
            s"function $name has no output '$other'")
          case None => row
        }

      case None if Set("filter_stopwords", "stopwords")(name.toLowerCase) =>
        // filter_stopwords function entity over a bag row
        // (`plugins/nlp/nlp.cc:108`, MLDB-1030): drop the fields whose
        // NAME is a stopword — plan-time, the field set is static
        val row = struct(args.map { case (argName, v) =>
          val fields = rowFieldsOf(scope, v).getOrElse(
            throw new IllegalArgumentException(
              s"$name: argument '$argName' must be row-shaped"))
          val kept = fields.filterNot { case (f, _) =>
            graft.operators.TextAnalysis.stopwordsEn.contains(f.toLowerCase)
          }
          require(kept.nonEmpty,
            s"$name: every column of '$argName' is a stopword")
          struct(kept.map { case (f, c) => c.as(f) }: _*).as(argName)
        }: _*)
        output match {
          case Some(out) =>
            args.collectFirst { case (n, _) if n.equalsIgnoreCase(out) =>
              row.getField(n)
            }.getOrElse(throw new IllegalArgumentException(
              s"function $name has no output '$out'"))
          case None => row
        }

      case None if Set("stem", "stemmer", "stemmerdoc")(name.toLowerCase) =>
        // the stemmer function entities (`plugins/nlp/nlp.cc:213-284`,
        // MLDB-1126/1322) as dialect builtins: `stemmer` stems each
        // argument row's COLUMN NAMES and sums same-stem columns
        // (potato + potatoes → potato); `stemmerdoc` stems the words
        // of a string document. An optional `language: '<lang>'`
        // argument selects the Snowball algorithm (english/french/
        // german/spanish — SnowballStemmer); unknown languages fail at
        // plan time with the reference's creation-time error shape.
        val language = args.collectFirst {
          case (n, StrLit(l)) if n.equalsIgnoreCase("language") => l
        }.getOrElse("english")
        graft.functions.SnowballStemmer.validate(language)
        val args2 = args.filterNot(_._1.equalsIgnoreCase("language"))
        val row: Column =
          if (name.equalsIgnoreCase("stemmerdoc"))
            struct(args2.map { case (n, v) =>
              concat_ws(" ", transform(
                split(lowerExpr(scope, v).cast("string"), " "),
                t => graft.plans.SnowballStem.column(t, language))).as(n)
            }: _*)
          else struct(args2.map { case (argName, v) =>
            val fields = rowFieldsOf(scope, v).getOrElse(
              throw new IllegalArgumentException(
                s"$name: argument '$argName' must be row-shaped"))
            val grouped = fields.groupBy { case (f, _) =>
              graft.functions.SnowballStemmer.stem(language, f)
            }.toSeq.sortBy(_._1)
            struct(grouped.map { case (stemmed, members) =>
              val vals = members.map(_._2.cast("double"))
              when(vals.map(_.isNull).reduce(_ && _), lit(null))
                .otherwise(vals.map(x => coalesce(x, lit(0.0)))
                  .reduce(_ + _)).as(stemmed)
            }: _*).as(argName)
          }: _*)
        output match {
          case Some(out) =>
            args.collectFirst { case (n, _) if n.equalsIgnoreCase(out) =>
              row.getField(n)
            }.getOrElse(throw new IllegalArgumentException(
              s"function $name has no output '$out'"))
          case None => row
        }

      case None if currentLookups.contains(name) =>
        // $param-ized sql.query function applied per row (MLDB-784):
        // probe the plan-literal key→row map
        val lk = currentLookups(name)
        val argMap = args.toMap
        val keyCols = lk.params.map(p => argMap.getOrElse(p,
          throw new IllegalArgumentException(
            s"function $name needs argument '$p'")))
        val keyCol = concat_ws("\u0001",
          keyCols.map(e => lowerExpr(scope, e).cast("string")): _*)
        val row =
          if (lk.entries.isEmpty) lit(null).cast(lk.schema)
          else {
            val kvs = lk.entries.flatMap { case (k, vs) =>
              Seq(lit(k), struct(vs.zip(lk.schema.fields).map {
                case (v, f) =>
                  (if (v == null) lit(null) else lit(v))
                    .cast(f.dataType).as(f.name)
              }: _*))
            }
            element_at(map(kvs: _*), keyCol)
          }
        output match {
          case Some(out) => row.getField(out)
          case None => row
        }
      case None => throw new IllegalArgumentException(
        s"unknown appliable function '$name' (register with " +
          "createSqlExpressionFunction)")
    }
    case Param(name) => currentParams.get(name) match {
      case Some(v) => lit(v)
      case None => throw new IllegalArgumentException(s"unbound parameter $$$name")
    }
    // alias-qualified dataset-context call, e.g. `t.rowName()` inside
    // a join condition (MLDB-1361)
    case QualifiedFn(qual, fn) =>
      val frame = scope.frames.collectFirst {
        case f @ (Some(al), _) if al.equalsIgnoreCase(qual) => f
      }
      frame match {
        case Some((Some(al), df)) => fn match {
          case "rowname" =>
            if (df.columns.exists(_.equalsIgnoreCase("rowName")))
              col(s"$al.rowName")
            else lit(null)
          case "rowhash" =>
            if (df.columns.exists(_.equalsIgnoreCase("rowName")))
              xxhash64(col(s"$al.rowName"))
            else lit(null)
          case "rowpath" =>
            if (df.columns.exists(_.equalsIgnoreCase("rowName")))
              P.parsePath(col(s"$al.rowName"))
            else lit(null).cast("array<string>")
          case "columncount" =>
            val names = df.columns.filter(!_.equalsIgnoreCase("rowName"))
            if (names.isEmpty) lit(0L)
            else names.map(n =>
              when(col(s"$al.$n").isNotNull, 1L).otherwise(0L))
              .reduce(_ + _)
          case other => throw new IllegalArgumentException(
            s"unsupported qualified function $qual.$other()")
        }
        case _ => throw new IllegalArgumentException(
          s"unknown table alias '$qual' for $qual.$fn()")
      }
    case NullLit() => lit(null)
    case BoolLit(v) => lit(v)
    case NumLit(v, integral) =>
      // uint64 beyond the int64 range (`sql/cell_value.h:497-499`
      // ST_UNSIGNED; SURVEY §1.2): BigDecimal.toLong would silently
      // wrap 2^63+1 negative — carry big integrals as DecimalType(20,0)
      if (integral && (v > BigDecimal(Long.MaxValue) ||
          v < BigDecimal(Long.MinValue)))
        lit(v.underlying())
      else if (integral) lit(v.toLong)
      else lit(v.toDouble)
    case StrLit(v) => lit(v)
    case IntervalLit(months, days, seconds) =>
      // components stay separate (MLDB-724: 1 day ≠ 24 H) → struct
      // equality is the reference's component-wise interval equality
      struct(lit(months).as("months"), lit(days).as("days"),
        lit(seconds).as("seconds"))

    case Ident(Seq(one)) =>
      // a quoted name may contain dots ("a.b" the COLUMN, MLDB-835) —
      // backtick it so Spark doesn't read a struct path
      if (scope.hasColumn(one))
        (if (one.contains(".")) col(s"`$one`") else col(one))
      // `inf` / `nan` value literals (MLDB-953 `norm(x, inf)`) — a
      // real column of that name wins, like any identifier
      else if (one.equalsIgnoreCase("inf")) lit(Double.PositiveInfinity)
      else if (one.equalsIgnoreCase("nan")) lit(Double.NaN)
      // no-FROM scope (the __dummy one-row seed): the reference raises
      // rather than reading NULL (MLDB-1430 test_error)
      else if (scope.frames.exists(_._2.columns.sameElements(Array("__dummy"))))
        throw new IllegalArgumentException(
          s"""Cannot read column "$one" with no FROM clause.""")
      // a PATH PREFIX names the subtree as a row (MLDB-2126:
      // `select x as x` over columns x.a/x.b reads {a, b})
      else if (scope.allColumns.exists(_._2.startsWith(one + "."))) {
        val subs = scope.allColumns.map(_._2)
          .filter(_.startsWith(one + ".")).distinct
        struct(subs.map(n =>
          col(s"`$n`").as(n.stripPrefix(one + "."))): _*)
      }
      else lit(null) // MLDB: unknown column reads as NULL
    case Ident(Seq(q, name)) =>
      if (scope.hasQualified(q, name)) col(s"`$q`.`$name`")
      else if (scope.hasColumn(s"$q.$name")) col(s"`$q.$name`")
      else lit(null)
    case Ident(parts) =>
      // deeper paths: a flattened dotted column name, or an
      // alias-qualified dotted column — try every alias/column split
      // (MLDB-835: `q.r.a.b FROM "x.y" AS "q.r"` reads column "a.b")
      val flat = parts.mkString(".")
      if (scope.hasColumn(flat)) col(s"`$flat`")
      else (1 until parts.length).iterator.flatMap { k =>
        val al = parts.take(k).mkString(".")
        val rest = parts.drop(k).mkString(".")
        if (scope.hasQualified(al, rest)) Some(col(s"`$al`.`$rest`"))
        else None
      }.nextOption().getOrElse(lit(null))

    case Star(_, _, _) =>
      throw new IllegalArgumentException("* only valid as a select item")

    case Unary("-", x) => -lowerExpr(scope, x)
    case Unary("~", x) => bitwise_not(lowerExpr(scope, x))
    case Unary("not", x) => !lowerExpr(scope, x)
    case Unary(op, _) => throw new IllegalArgumentException(s"unary $op")

    case Binary(op, l, r) =>
      // MLDB arithmetic treats booleans as 1/0 cells (MLDB-1736:
      // `x + (5 IS NOT NULL)` = x + 1); Spark needs the explicit
      // int cast, decidable statically from the operand's AST shape
      def arith = Set("+", "-", "*", "/", "%")(op)
      def side(e: Expr): Column = {
        val c = lowerExpr(scope, e)
        if (arith && boolShaped(e)) c.cast("int") else c
      }
      // reference binaryPlus (`sql_expression_operations.cc:968-1002`):
      // a string on either side of + concatenates (MLDB-410), and
      // ts ± integer counts DAYS (binaryPlusOnTimestamp)
      if ((op == "+" || op == "-") && r.isInstanceOf[IntervalLit]) {
        val IntervalLit(months, days, seconds) = r: @unchecked
        val sign = if (op == "+") 1 else -1
        lowerExpr(scope, l) + call_function("make_interval",
          lit(0), lit(sign * months), lit(0), lit(sign * days),
          lit(0), lit(0), lit(sign * seconds))
      }
      else if (op == "+" && (stringShaped(scope, l) || stringShaped(scope, r)))
        concat(lowerExpr(scope, l).cast("string"),
          lowerExpr(scope, r).cast("string"))
      else if ((op == "+" || op == "-") && timestampShaped(scope, l) &&
          integerShaped(scope, r)) {
        val days = if (op == "+") lowerExpr(scope, r)
          else -lowerExpr(scope, r)
        lowerExpr(scope, l) + call_function("make_dt_interval",
          days.cast("int"), lit(0), lit(0), lit(0))
      }
      else if (op == "+" && integerShaped(scope, l) &&
          timestampShaped(scope, r)) // + is commutative on timestamps
        lowerExpr(scope, r) + call_function("make_dt_interval",
          lowerExpr(scope, l).cast("int"), lit(0), lit(0), lit(0))
      else if (Set("=", "!=", "<>", "<", "<=", ">", ">=")(op) &&
          (bagShaped(scope, l) || bagShaped(scope, r)))
        // bag comparison → sorted-entry-list comparison (MLDB-989)
        binaryOp(op, bagEntries(lowerExpr(scope, l)),
          bagEntries(lowerExpr(scope, r)))
      else if (numericScalarShaped(scope, l) && numericScalarShaped(scope, r))
        // FAST PATH: both sides are syntactically plain numeric
        // scalars (literals, numeric columns, arithmetic/CASE over
        // them) — skip every resolution probe below. Without this, a
        // generated polynomial (the gaussianclustering CASE) pays a
        // full Catalyst analysis PER NODE and re-lowers each subtree
        // several times — exponential in chain depth.
        binaryOp(op, side(l), side(r))
      else {
        val cmp = Set("=", "!=", "<>", "<", "<=", ">", ">=")(op)
        // lower each side ONCE and resolve its type ONCE — the
        // interval / embedding / row dispatch below branches on the
        // same two resolved types
        lazy val lc0 = lowerExpr(scope, l)
        lazy val rc0 = lowerExpr(scope, r)
        lazy val lt0 = resolvedTypeOf(scope, lc0)
        lazy val rt0 = resolvedTypeOf(scope, rc0)
        def isDtT(t: Option[org.apache.spark.sql.types.DataType]) =
          t.exists(_.isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType])
        def isStructT(t: Option[org.apache.spark.sql.types.DataType]) =
          t.exists(_.isInstanceOf[org.apache.spark.sql.types.StructType])
        def isArrT(t: Option[org.apache.spark.sql.types.DataType]) =
          t.exists(_.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        if (cmp && (isDtT(lt0) || isDtT(rt0))) {
          // a timestamp difference is a Spark day-time interval;
          // compared against the dialect's (months, days, seconds)
          // INTERVAL value both sides normalize to seconds (months at
          // the reference's calendar rate — MLDB-409's
          // `now() - ts > INTERVAL '454D'`). Struct-vs-struct
          // comparisons stay component-wise (MLDB-724: 1 day ≠ 24 H),
          // so this only fires when ONE side is a real interval.
          def secs(c: Column,
              t: Option[org.apache.spark.sql.types.DataType]): Column =
            t match {
              case Some(_: org.apache.spark.sql.types.DayTimeIntervalType) =>
                // ANSI interval → integral cast counts the END field
                // (seconds for DAY TO SECOND) — then widen
                c.cast("long").cast("double")
              case Some(st: org.apache.spark.sql.types.StructType)
                  if st.fieldNames.sameElements(
                    Array("months", "days", "seconds")) =>
                c.getField("months") * 2592000.0 +
                  c.getField("days") * 86400.0 + c.getField("seconds")
              case _ => c.cast("double")
            }
          binaryOp(op, secs(lc0, lt0), secs(rc0, rt0))
        }
        else if (arith && (arrayShaped(scope, l) || arrayShaped(scope, r) ||
            isArrT(lt0) || isArrT(rt0))) {
          // embedding arithmetic is element-wise, recursing into
          // NESTED (2-D+) embeddings (MLDB-1317 `[[1],[2]] + [[3],[4]]`);
          // a scalar broadcasts over the vector (MLDB-953
          // `[1,2,3,4]/norm(...)`); a string element beside + keeps
          // the reference's binaryPlus concat ('1three' — MLDB-1317)
          import org.apache.spark.sql.types._
          // a row literal beside an embedding reads as a vector too
          // (MLDB-923: [1,2,3] + {"0":3, "1":2, "2":1})
          val lc = toVector(scope, lc0)
          val rc = toVector(scope, rc0)
          def tOf(c: Column): DataType =
            resolvedTypeOf(scope, c).getOrElse(NullType)
          def elemOp(lcx: Column, lt: DataType, rcx: Column,
              rt: DataType): Column = (lt, rt) match {
            case (la: ArrayType, ra: ArrayType) =>
              zip_with(lcx, rcx,
                (x, y) => elemOp(x, la.elementType, y, ra.elementType))
            case (la: ArrayType, _) =>
              transform(lcx, x => elemOp(x, la.elementType, rcx, rt))
            case (_, ra: ArrayType) =>
              transform(rcx, x => elemOp(lcx, lt, x, ra.elementType))
            case _ =>
              if (op == "+" && (lt == StringType || rt == StringType))
                concat(lcx.cast("string"), rcx.cast("string"))
              else binaryOp(op, lcx.cast("double"), rcx.cast("double"))
          }
          elemOp(lc, tOf(lc), rc, tOf(rc))
        }
        else if (arith && (isStructT(lt0) || isStructT(rt0))) {
          // row arithmetic (column_name_test test_object_arith,
          // MLDB-1836): row op scalar applies per FIELD, recursing into
          // nested rows; row op row applies on the union of field names
          // (a field absent on one side reads NULL)
          import org.apache.spark.sql.types.{DataType, StructType}
          def structOp(lc: Column, lt: DataType, rc: Column, rt: DataType): Column =
            (lt, rt) match {
              case (ls: StructType, rs: StructType) =>
                val names = (ls.fieldNames ++ rs.fieldNames).distinct.toSeq
                struct(names.map { n =>
                  (ls.find(_.name == n), rs.find(_.name == n)) match {
                    case (Some(a), Some(b)) =>
                      structOp(lc.getField(n), a.dataType,
                        rc.getField(n), b.dataType).as(n)
                    case _ => lit(null).as(n)
                  }
                }: _*)
              case (ls: StructType, _) =>
                struct(ls.fields.toSeq.map(f =>
                  structOp(lc.getField(f.name), f.dataType, rc, rt)
                    .as(f.name)): _*)
              case (_, rs: StructType) =>
                struct(rs.fields.toSeq.map(f =>
                  structOp(lc, lt, rc.getField(f.name), f.dataType)
                    .as(f.name)): _*)
              case _ => binaryOp(op, lc, rc)
            }
          structOp(lc0, lt0.getOrElse(org.apache.spark.sql.types.NullType),
            rc0, rt0.getOrElse(org.apache.spark.sql.types.NullType))
        }
        else {
          def sideC(e: Expr, c: Column): Column =
            if (arith && boolShaped(e)) c.cast("int") else c
          binaryOp(op, sideC(l, lc0), sideC(r, rc0))
        }
      }

    // zero-arg appliable function (sql.query macro form): `f()` /
    // `f() AS *` — MLDB-1841 test_distincton_pipeline
    case FnCall(name, Nil, false) if currentMacros.contains(name) =>
      lowerExpr(scope, FnApply(name, Nil, None))

    // applying a registered function entity to a ROW-VALUED positional
    // argument binds the row's columns to the function's input names —
    // the reference's function-composition form (MLDB-1314
    // `cls(feats2({*}))`, MLDB-59 `probabilizer(classifier(…))[prob]`)
    case FnCall(name, Seq(arg), false) if currentColumnFns.contains(name) =>
      val c = lowerExpr(scope, arg)
      // a composed macro with ONE aliased row-valued output lowers to
      // the bare row (MLDB-1841 convention) — the receiving function
      // still binds it under the OUTPUT'S NAME (`feats2({*})` aliased
      // `features` feeds cls's features argument — MLDB-1273/1314)
      val singleAlias: Option[String] = arg match {
        case FnApply(n, _, None) => currentMacros.get(n) match {
          case Some(Seq(SelectItem(e, Some(al))))
              if !e.isInstanceOf[Star] => Some(al)
          case _ => None
        }
        case _ => None
      }
      resolvedTypeOf(scope, c) match {
        case Some(st: org.apache.spark.sql.types.StructType)
            if singleAlias.isDefined =>
          currentColumnFns(name).build(Map(
            singleAlias.get -> ((c, Some(st), (NullLit(): Expr)))))
        case Some(st: org.apache.spark.sql.types.StructType) =>
          // DOTTED field names group under their head segment — a
          // composed row like {features.a, features.b} binds the
          // receiving function's `features` argument as a row
          // (MLDB-1273/1314 `cls(feats2({*}))`)
          val (dotted, plain) = st.fields.toSeq.partition(_.name.contains('.'))
          val grouped = dotted.groupBy(_.name.takeWhile(_ != '.')).map {
            case (head, fs) =>
              val sub = org.apache.spark.sql.types.StructType(fs.map(f =>
                org.apache.spark.sql.types.StructField(
                  f.name.drop(head.length + 1), f.dataType)))
              head -> ((struct(fs.map(f => c.getField(f.name)
                .as(f.name.drop(head.length + 1))): _*),
                Some(sub), (NullLit(): Expr)))
          }
          val lowered = plain.map { f =>
            val ft = f.dataType match {
              case s: org.apache.spark.sql.types.StructType => Some(s)
              case _ => None
            }
            f.name -> ((c.getField(f.name), ft, (NullLit(): Expr)))
          }.toMap ++ grouped
          currentColumnFns(name).build(lowered)
        case _ => throw new IllegalArgumentException(
          s"function '$name' expects a row argument")
      }

    // join-analysis debug builtins (MLDB-1562;
    // sql/builtin_functions.cc:3308-3339): expression TEXT arguments,
    // analyzed at plan time, returning the reference's print() strings
    case FnCall("_remove_table_name", Seq(StrLit(exprText), StrLit(table)), _) =>
      lit(JoinAnalysis.removeTableNamePrint(exprText, table))
    case FnCall("_analyze_join",
        Seq(StrLit(l), StrLit(r), StrLit(on), StrLit(w)), _) =>
      val a = JoinAnalysis.analyze(l, r, on, w)
      struct(
        lit(a.crossWhere).as("crossWhere"),
        lit(a.constantWhere).as("constantWhere"),
        struct(lit(a.leftWhere).as("where")).as("left"),
        struct(lit(a.rightWhere).as("where")).as("right"),
        lit(a.on).as("on"),
        lit(a.style).as("style"),
        lit(a.where).as("where"))

    case FnCall(name, args, star) =>
      lowerFn(scope, name, args.map(lowerExpr(scope, _)), star, args)

    case CaseWhen(operand0, branches0, orElse0) =>
      val CaseWhen(operand, branches, orElse) =
        normalizeCaseStructs(CaseWhen(operand0, branches0, orElse0)): @unchecked
      val cond: Expr => Column = operand match {
        case Some(op) => c => lowerExpr(scope, op) === lowerExpr(scope, c)
        case None => c => lowerExpr(scope, c)
      }
      val first = when(cond(branches.head._1), lowerExpr(scope, branches.head._2))
      val chained = branches.tail.foldLeft(first) { case (acc, (c, v)) =>
        acc.when(cond(c), lowerExpr(scope, v))
      }
      orElse.map(o => chained.otherwise(lowerExpr(scope, o))).getOrElse(chained)

    case CastExpr(x, to) => lowerExpr(scope, x).cast(sparkType(to))

    case Between(x, lo, hi, neg) =>
      val c = lowerExpr(scope, x).between(lowerExpr(scope, lo), lowerExpr(scope, hi))
      if (neg) !c else c
    case InList(x, items, neg) =>
      // boolean-shaped list members coerce to 1/0 cells when mixed
      // with numerics — the reference's everything-is-a-cell
      // comparison (MLDB-895 `2 IN (…, 1 IN (…), …, 1%1<1%1, 11)`)
      val mixed = items.exists(boolShaped) && !items.forall(boolShaped) &&
        !boolShaped(x)
      val lowered = items.map { it =>
        val c = lowerExpr(scope, it)
        if (mixed && boolShaped(it)) c.cast("int") else c
      }
      val c = lowerExpr(scope, x).isin(lowered: _*)
      if (neg) !c else c
    case InSelect(_, _, _) =>
      throw new IllegalArgumentException(
        "IN (SELECT …) is not supported in this position (supported: " +
          "WHERE/WHEN, projections, CASE, ORDER BY, DISTINCT ON)")
    case IsNull(x, neg) =>
      if (neg) lowerExpr(scope, x).isNotNull else lowerExpr(scope, x).isNull
    // `typeof` is resolved to the STATIC Spark type during analysis, so
    // the whole predicate constant-folds to (isNotNull AND true/false) —
    // free at runtime. NULL IS <type> is false (reference semantics).
    case IsType(x, tpe, neg) =>
      val c = lowerExpr(scope, x)
      val t = typeof(c)
      val pred = tpe match {
        case "string" => c.isNotNull && t === "string"
        case "number" => c.isNotNull &&
          (t.isin("double", "float", "int", "bigint", "smallint", "tinyint") ||
            t.startsWith("decimal"))
        case "integer" =>
          c.isNotNull && t.isin("int", "bigint", "smallint", "tinyint")
        case "timestamp" => c.isNotNull && t.isin("timestamp", "timestamp_ntz")
        case "true" => c.cast("boolean") <=> lit(true)
        case "false" => c.cast("boolean") <=> lit(false)
      }
      if (neg) !pred else pred
    case InKeysOf(x, container, neg, keys) =>
      val c = lowerExpr(scope, container)
      // a row (struct) container reads its field names/values
      // (MLDB-1563: KEYS OF fn({input: {"1": 1}})[input])
      val arr = resolvedTypeOf(scope, c) match {
        case Some(st: org.apache.spark.sql.types.StructType) =>
          if (keys) array(st.fieldNames.toSeq.map(lit): _*)
          else array(st.fieldNames.toSeq.map(f => c.getField(f)): _*)
        case _ => if (keys) map_keys(c) else map_values(c)
      }
      val pred = array_contains(arr, lowerExpr(scope, x))
      if (neg) !pred else pred
    case ColumnExprStar(_, _, _, _, _, _) =>
      throw new IllegalArgumentException(
        "COLUMN EXPR is only valid as a top-level select item")
    case LikeExpr(x, StrLit(pat), neg) =>
      val c = lowerExpr(scope, x).like(pat)
      if (neg) !c else c
    case LikeExpr(x, p, neg) => // dynamic pattern: SQL like(str, pattern)
      val c = call_function("like", lowerExpr(scope, x), lowerExpr(scope, p))
      if (neg) !c else c
    case ArrayLit(items) => array(items.map(lowerExpr(scope, _)): _*)
    case StructLit(fields) =>
      struct(lowerStructFields(scope, fields): _*)
    // postfix extraction (reference ExtractExpression): string key →
    // row field / bag key, integer key → 0-based embedding element.
    // Spark's ExtractValue resolves struct/map/array uniformly at
    // analysis time, so one getItem covers all three.
    // A ROW-LITERAL key projects/renames within the extracted row:
    // `f(…)[{x3: x2, y3: y2}]` builds {x3: f(…).x2, y3: f(…).y2}
    // (MLDB-1012) — idents inside the literal resolve against the
    // LHS row's fields first, then the outer scope.
    case Extract(x, StructLit(keyFields)) =>
      val c = lowerExpr(scope, x)
      val lhsFields = structFieldsOf(scope, c).getOrElse(Seq.empty)
      val fmap: Map[String, Expr] =
        lhsFields.map(f => f -> (Extract(x, StrLit(f)): Expr)).toMap
      struct(keyFields.map { case (n, v) =>
        lowerExpr(scope, substitute(v, fmap)).as(n)
      }: _*)
    // extract-of-row-literal simplifies to the named field alone —
    // macro substitution (sql.expression function entities) can
    // replicate the literal HUNDREDS of times (the gaussianclustering
    // CASE); lowering only the referenced field keeps plan size linear
    // instead of materializing the whole struct per mention
    case Extract(StructLit(fields), StrLit(s))
        if fields.exists {
          case (k, _) if k.equalsIgnoreCase(s) => true
          case ("*", Star(excl, "", None)) =>
            !excl.exists { pat =>
              if (pat.endsWith("*"))
                s.toLowerCase.startsWith(pat.toLowerCase.dropRight(1))
              else pat.equalsIgnoreCase(s)
            }
          case _ => false
        } =>
      fields.collectFirst {
        case (k, v) if k.equalsIgnoreCase(s) => lowerExpr(scope, v)
      }.getOrElse(lowerExpr(scope, Ident(Seq(s))))
    case Extract(x, key) =>
      val c = lowerExpr(scope, x)
      key match {
        // user-written `['foo']` — the reference's MLDB-2105 quirk:
        // the bracket is the string VALUE, not an accessor
        case Unary("__bracketstr", StrLit(s)) => val _ = c; lit(s)
        case StrLit(s) => c.getItem(s)
        case NumLit(v, true) => c.getItem(v.toInt)
        // a bare/quoted identifier inside [] is a FIELD NAME of the
        // extracted value (reference: `x["2"]` reads output column 2
        // of the lhs row, MLDB-2108) — not a column of the FROM scope
        case Ident(Seq(name)) => c.getItem(name)
        case other => c.getItem(lowerExpr(scope, other))
      }
  }

  /** Shared wildcard expansion for `*`, `prefix*`, `alias.*`, with
    * EXCLUDING patterns (exact names, `x*`, `a.*` — trailing '*' is a
    * prefix match, MLDB-832/835). A dotted prefix whose head names a
    * frame alias expands THAT frame's columns (`x.* FROM t AS x`,
    * MLDB-869/1313); otherwise it prefix-matches column paths
    * (`"a."*` matches column `a.b`). */
  private def expandStarCols(scope: Scope, excl: Seq[String],
      prefix: String, rename: Option[String],
      skipRowName: Boolean): Seq[Column] = {
    def excluded(c: String): Boolean = excl.exists { pat =>
      val pl = pat.toLowerCase
      if (pl.endsWith("*")) c.toLowerCase.startsWith(pl.dropRight(1))
      else c.toLowerCase == pl
    }
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    val aliasFrames =
      if (prefix.endsWith("."))
        scope.frames.filter(_._1.exists(
          _.equalsIgnoreCase(prefix.dropRight(1))))
      else Nil
    // `x.a.*` (MLDBFB-634): head segment names a frame alias, the
    // remainder is a column-path prefix WITHIN that frame. Output
    // keeps the full qualified path (`x.a.b`), matching the
    // reference's joined virtual-table column naming.
    val nestedAliasFrames =
      if (aliasFrames.isEmpty && prefix.endsWith(".") &&
          prefix.dropRight(1).contains('.')) {
        val head = prefix.takeWhile(_ != '.')
        val rest = prefix.drop(head.length + 1)
        scope.frames.filter(_._1.exists(_.equalsIgnoreCase(head)))
          .map { case (a, df) => (a, df, rest) }
      } else Nil
    if (aliasFrames.nonEmpty)
      aliasFrames.flatMap { case (a, df) =>
        df.columns.toSeq.flatMap { c =>
          if (excluded(c) || c.startsWith("__") ||
              (skipRowName && c.equalsIgnoreCase("rowName")) ||
              seen.contains(c.toLowerCase)) None
          else {
            seen += c.toLowerCase
            Some(col(s"`${a.get}`.`$c`").as(c))
          }
        }
      }
    else if (nestedAliasFrames.nonEmpty)
      nestedAliasFrames.flatMap { case (a, df, rest) =>
        df.columns.toSeq.flatMap { c =>
          if (!c.startsWith(rest) || excluded(c) || c.startsWith("__") ||
              seen.contains(c.toLowerCase)) None
          else {
            seen += c.toLowerCase
            val outName = rename match {
              case Some(np) => np + c.stripPrefix(rest)
              case None => s"${a.get}.$c"
            }
            Some(col(s"`${a.get}`.`$c`").as(outName))
          }
        }
      }
    else {
      // join context: `*` expands each side's columns QUALIFIED by its
      // alias (the reference's joined dataset prefixes column paths
      // with the table name — MLDB-1616's x.1/y.column/y.value), and
      // the per-side rowName columns collapse into ONE composed
      // [l]-[r] rowName instead of first-side-wins. Two or more
      // ALIASED frames = a join (internal extended scopes append an
      // anonymous frame and must not trigger qualification).
      val joinCtx = scope.frames.count(_._1.isDefined) > 1
      val composedRowName: Seq[Column] =
        if (joinCtx && !skipRowName && prefix.isEmpty &&
            scope.frames.exists(_._2.columns.exists(
              _.equalsIgnoreCase("rowName"))))
          Seq(rowNameOf(scope).as("rowName"))
        else Nil
      val generic = composedRowName ++ scope.allColumns.flatMap {
        case (alias, c) =>
        val matches = prefix.isEmpty || c.startsWith(prefix)
        val isRowName = c.equalsIgnoreCase("rowName")
        if (!matches || excluded(c) || c.startsWith("__") ||
            ((skipRowName || joinCtx) && isRowName) ||
            (!(joinCtx && alias.isDefined) && seen.contains(c.toLowerCase)))
          None
        else {
          seen += c.toLowerCase
          val outName0 = rename match {
            case Some(np) => np + c.stripPrefix(prefix)
            case None => c
          }
          val outName =
            if (joinCtx && alias.isDefined) s"${alias.get}.$outName0"
            else outName0
          Some(alias.map(al => col(s"`$al`.`$c`")).getOrElse(col(s"`$c`"))
            .as(outName))
        }
      }
      // `tok.*` over a ROW-VALUED column named tok (map or struct —
      // MLDB-1843's f3 `SELECT tok.* as *`): no dotted columns match,
      // so expand the column's fields
      if (generic.size > composedRowName.size || prefix.isEmpty) generic
      else rowFieldsOf(scope, Ident(Seq(prefix.stripSuffix(".")))) match {
        case Some(fields) => composedRowName ++ fields.flatMap {
          case (f, c) =>
            if (excluded(f)) None
            else Some(c.as(rename.map(_ + f).getOrElse(prefix + f)))
        }
        case None => generic
      }
    }
  }

  /** The named fields of a row-valued expression: struct fields by
    * schema; bags (maps — `{tokenize(txt) as *}`, MLDB-1322) through
    * the shared capped plan-time key pass. */
  private def rowFieldsOf(scope: Scope,
      v: Expr): Option[Seq[(String, Column)]] = v match {
    // literals resolve at the AST level — no schema probe (which
    // would mis-resolve alias-qualified columns against the per-frame
    // dfs), and names come for free
    case StructLit(fs) => Some(fs.flatMap {
      case ("*", Star(excl, "", rename)) =>
        val exclSet = excl.map(_.toLowerCase).toSet
        val seen = scala.collection.mutable.LinkedHashSet[String]()
        scope.allColumns.flatMap { case (_, n) =>
          if (n.equalsIgnoreCase("rowName") || n.startsWith("__") ||
              exclSet(n.toLowerCase) || seen.contains(n.toLowerCase)) None
          else {
            seen += n.toLowerCase
            Some(rename.map(_ + n).getOrElse(n) ->
              lowerExpr(scope, Ident(Seq(n))))
          }
        }
      case ("*", Star(excl, prefix, rename)) =>
        val exclSet = excl.map(_.toLowerCase).toSet
        val dotted = scope.allColumns.map(_._2)
          .filter(_.startsWith(prefix)).distinct
        val base = prefix.stripSuffix(".")
        val pairs: Seq[(String, Column)] =
          if (dotted.nonEmpty)
            dotted.map(n => n.stripPrefix(prefix) ->
              lowerExpr(scope, Ident(Seq(n))))
          else rowFieldsOf(scope, Ident(Seq(base))).getOrElse(
            throw new IllegalArgumentException(
              s"$prefix* matched no columns"))
        pairs.collect { case (f, c) if !exclSet(f.toLowerCase) =>
          rename.map(_ + f).getOrElse(prefix + f) -> c
        }
      case ("*", inner) =>
        rowFieldsOf(scope, inner).getOrElse(
          throw new IllegalArgumentException(
            "AS * inside a row literal needs a row-valued expression"))
      case (n, e) => Seq(n -> lowerExpr(scope, e))
    })
    case _ => rowFieldsOfResolved(scope, v)
  }

  private def rowFieldsOfResolved(scope: Scope,
      v: Expr): Option[Seq[(String, Column)]] = {
    val c = lowerExpr(scope, v)
    resolvedTypeOf(scope, c) match {
      case Some(st: org.apache.spark.sql.types.StructType) =>
        Some(st.fieldNames.toSeq.map(f => f -> c.getField(f)))
      case Some(_: org.apache.spark.sql.types.MapType) =>
        val frame = scope.frames.map(_._2).find(df =>
          scala.util.Try(df.select(c)).isSuccess).getOrElse(
          throw new IllegalArgumentException(
            "row expansion: unresolvable input"))
        Some(PlanTime.keys(frame.select(explode(map_keys(c)).as("__k")),
          col("__k"), "row expansion").map(k => k -> element_at(c, k)))
      case _ => None
    }
  }

  /** Row-literal field expansion. `{*}` expands to every scope column
    * (minus the carried rowName, which is the row's NAME, not one of
    * its cells); `{x*}`/`{x* AS y*}` filter/rename by prefix
    * (MLDB-832); `{inner AS *}` splices a nested literal's fields
    * inline (recursing at the AST level) or, for a non-literal
    * row-valued expr, reads fields out via its resolved schema. */
  private def lowerStructFields(scope: Scope,
      fields: Seq[(String, Expr)]): Seq[Column] = fields.flatMap {
    case ("*", Star(excl, prefix, rename)) =>
      // reference validation (MLDB-1834): `{*}` has no row to
      // expand against without a FROM
      if (scope.frames.exists(_._2.columns.sameElements(Array("__dummy"))))
        throw new IllegalArgumentException(
          "Cannot use wildcards with no FROM clause")
      expandStarCols(scope, excl, prefix, rename, skipRowName = true)
    case ("*", StructLit(inner)) =>
      // `{{…} AS *}` (MLDB-832 `{{*} as *} as *`)
      lowerStructFields(scope, inner)
    case ("*", v) =>
      rowFieldsOf(scope, v).getOrElse(throw new IllegalArgumentException(
        "AS * inside a row literal needs a row-valued expression"))
        .map { case (n, c) => c.as(n) }
    case (n, v) => Seq(lowerExpr(scope, v).as(n))
  }

  /** IEEE log-family domain handling (MLDB-781): x = 0 → -Inf,
    * x < 0 → NaN, NULL → NULL; positive x takes the Spark path. */
  private def ieeeLog(x: Column, sparkResult: Column): Column =
    when(x.cast("double") === 0.0, lit(Double.NegativeInfinity))
      .when(x.cast("double") < 0.0, lit(Double.NaN))
      .otherwise(sparkResult)

  /** Path-print ONE path element: a name containing a dot or a quote
    * is wrapped in double quotes with embedded quotes doubled —
    * `NAMED 'msnbc.com'` reads back as `"msnbc.com"` (MLDB-1678's
    * fast-path battery; MLDB-363 for group names). */
  private def pathPrintElement(c: Column): Column =
    when(c.rlike("[.\"]"),
      concat(lit("\""), regexp_replace(c, lit("\""), lit("\"\"")),
        lit("\"")))
      .otherwise(c)

  /** Strip an implicitly carried row-name column (metadata-marked by
    * the MLDB-409 passthrough) — value-position subqueries
    * (`x IN (SELECT y FROM …)`) read the SELECTED column, not the
    * carried name. */
  private def dropImplicitRowName(df: DataFrame): DataFrame =
    if (df.schema.headOption.exists(f =>
        f.name.equalsIgnoreCase("rowName") &&
          f.metadata.contains("graft.implicitRowName")))
      df.drop("rowName")
    else df

  /** Column metadata distinguishing an IMPLICITLY carried row name
    * (MLDB-409 passthrough / default group names) from one the query
    * selected via NAMED or a star — consumers that predate the
    * passthrough (positional test pins) can tell them apart. */
  val implicitRowNameMd: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.implicitRowName", true).build()

  /** String-shaped in the POST-aggregation outer scope, where
    * `rowName()` is the (string) group row name: literals, row names,
    * and `+`-chains over them — enough for the reference's
    * concatenating `+` (`sql_expression_operations.cc:968-974`). */
  private def outerStringShaped(e: Expr): Boolean = e match {
    case StrLit(_) => true
    case FnCall("rowname", Nil, _) => true
    case Binary("+", l, r) => outerStringShaped(l) || outerStringShaped(r)
    case _ => false
  }

  private def binaryOp(op: String, lc: Column, rc: Column): Column = op match {
    case "+" => lc + rc
    case "-" => lc - rc
    case "*" => lc * rc
    case "/" =>
      // Spark's non-ANSI division returns NULL on a zero divisor; the
      // reference keeps IEEE semantics (MLDB-917: 0/0 = NaN,
      // x/0 = ±Inf). Non-zero divisors take the plain Spark path.
      when(rc.cast("double") === 0.0,
        when(lc.cast("double") === 0.0, lit(Double.NaN))
          .when(lc.cast("double") > 0.0, lit(Double.PositiveInfinity))
          .when(lc.cast("double") < 0.0, lit(Double.NegativeInfinity)))
        .otherwise(lc / rc)
    case "%" => lc % rc
    case "&" => lc.bitwiseAND(rc)
    case "|" => lc.bitwiseOR(rc)
    case "^" => lc.bitwiseXOR(rc)
    case "||" => concat(lc.cast("string"), rc.cast("string"))
    case "=" => lc === rc
    case "!=" => lc =!= rc
    case "<" => lc < rc
    case "<=" => lc <= rc
    case ">" => lc > rc
    case ">=" => lc >= rc
    // AND/OR read cell TRUTHINESS (MLDBFB-404's
    // `CASE (behA AND behC) …` over numeric cells): a non-boolean
    // side casts — non-ANSI bigint→boolean is nonzero-is-true, and
    // NULLs keep their tri-logic
    case "and" => lc.cast("boolean") && rc.cast("boolean")
    case "or" => lc.cast("boolean") || rc.cast("boolean")
    // `expr @ ts` re-timestamps a value (`sql_expression_operations.h`
    // at/@ operator). Wide mode stores one timestamp per ROW, not per
    // cell, so the value itself is unchanged — same degenerate
    // semantics as the at()/temporal_* family (SURVEY §1.4).
    case "@" => lc
    case other => throw new IllegalArgumentException(s"binary $other")
  }

  /** MLDB CAST target → Spark type name (`CAST (x AS {string,integer,
    * number,boolean,timestamp,blob,path,interval})`,
    * `sql_expression_operations.cc:3374-3439`). */
  private def sparkType(to: String): String = to match {
    case "string" => "string"
    case "integer" => "long"
    case "number" => "double"
    case "boolean" => "boolean"
    case "timestamp" => "timestamp"
    case "blob" => "binary"
    case "path" => "string"
    // MLDB's INTERVAL cell type (`cell_value.h` TIMEINTERVAL) — the
    // day-time flavor: numeric casts read as seconds, and
    // timestamp ± interval arithmetic works (MLDB-1033 family).
    // Month-bearing intervals are not representable (documented).
    case "interval" => "interval day to second"
    case other => other // passthrough: long, double, int, date …
  }

  /** MLDB builtin name → Column. SURVEY §2.5 registry. */
  /** Builtins whose arity is fixed — mismatches raise the reference's
    * binding error (testing/MLDB-1336-builtin-checks.py:
    * "Binding builtin function sqrt: expected 1 argument, got 3"). */
  private val fixedArity: Map[String, Int] = Map(
    "exp" -> 1, "sqrt" -> 1, "ln" -> 1, "abs" -> 1, "ceil" -> 1,
    "ceiling" -> 1, "floor" -> 1, "sin" -> 1, "cos" -> 1, "tan" -> 1,
    "asin" -> 1, "acos" -> 1, "atan" -> 1, "sinh" -> 1, "cosh" -> 1,
    "tanh" -> 1, "asinh" -> 1, "acosh" -> 1, "atanh" -> 1, "sign" -> 1,
    "isnan" -> 1, "isinf" -> 1, "isfinite" -> 1, "quantize" -> 2,
    "power" -> 2, "pow" -> 2, "mod" -> 2, "atan2" -> 2, "clamp" -> 3,
    "lower" -> 1, "upper" -> 1, "trim" -> 1, "ltrim" -> 1, "rtrim" -> 1,
    // the rest of the reference's checkArgsSize battery
    // (`sql/builtin_functions.cc`, swept r11 — norm/normalize REQUIRE
    // the p argument there, MLDB-1336 pattern)
    "norm" -> 2, "normalize" -> 2, "levenshtein_distance" -> 2,
    "regex_replace" -> 3, "regex_match" -> 2, "regex_search" -> 2,
    "remove_prefix" -> 2, "remove_suffix" -> 2, "at" -> 2,
    "extract_column" -> 2, "cardinality" -> 1, "shape" -> 1,
    "flatten" -> 1, "blob_length" -> 1, "base64_encode" -> 1,
    "base64_decode" -> 1, "hash" -> 1, "print_json" -> 1,
    "mime_type" -> 1, "length" -> 1, "to_timestamp" -> 1,
    "implicit_cast" -> 1, "parse_path" -> 1, "stringify_path" -> 1,
    "flatten_path" -> 1, "unflatten_path" -> 1, "path_element" -> 2,
    "path_length" -> 1, "binomial_ub_80" -> 2, "binomial_lb_80" -> 2)

  private def lowerFn(scope: Scope, name: String, a: Seq[Column],
      star: Boolean, raw: Seq[Expr]): Column = {
    fixedArity.get(name).foreach { n =>
      if (a.size != n) throw new IllegalArgumentException(
        s"Binding builtin function $name: expected $n argument" +
          (if (n == 1) "" else "s") + s", got ${a.size}")
    }
    lowerFnDispatch(scope, name, a, star, raw)
  }

  private def lowerFnDispatch(scope: Scope, name: String, a: Seq[Column],
      star: Boolean, raw: Seq[Expr]): Column = name match {
    // math
    case "abs" => abs(a(0))
    case "ceil" | "ceiling" => ceil(a(0))
    case "floor" => floor(a(0))
    case "round" => if (a.size > 1) round(a(0), raw(1).asInstanceOf[NumLit].v.toInt) else round(a(0), 0)
    case "sqrt" => sqrt(a(0))
    case "exp" => exp(a(0))
    // logarithms keep IEEE semantics like C's log() (MLDB-781:
    // ln(0) = -Inf, ln(-1) = NaN) — Spark's null-on-nonpositive
    // replaced; NULL input still reads NULL
    case "ln" => ieeeLog(a(0), log(a(0)))
    // reference log(x) is base 10, log(base, x) is base-b
    // (`builtin_functions.cc:809-849`)
    case "log" =>
      if (a.size > 2) throw new IllegalArgumentException(
        s"Binding builtin function log: the log function expected 1 or 2 " +
          s"arguments, got ${a.size}")
      else if (a.size == 2) raw(0) match {
        case NumLit(b, _) => ieeeLog(a(1), log(b.toDouble, a(1)))
        case NullLit() => lit(null) // log(NULL, x) = NULL
        case _ => ieeeLog(a(1), log(a(1)) / log(a(0))) // dynamic base
      }
      else ieeeLog(a(0), log10(a(0)))
    case "power" | "pow" => pow(a(0), a(1))
    case "mod" => a(0) % a(1)
    case "atan2" => atan2(a(0), a(1))
    case "sin" => sin(a(0));   case "cos" => cos(a(0));   case "tan" => tan(a(0))
    case "asin" => asin(a(0)); case "acos" => acos(a(0)); case "atan" => atan(a(0))
    case "sinh" => sinh(a(0)); case "cosh" => cosh(a(0)); case "tanh" => tanh(a(0))
    // sign of a non-number is NaN; NULL passes through
    // (sign_function_test: sign('octosanchez') = NaN, sign(NULL) = NULL)
    case "sign" => when(a(0).isNull, lit(null))
      .otherwise(signum(coalesce(a(0).cast("double"), lit(Double.NaN))))
    case "asinh" => asinh(a(0)); case "acosh" => acosh(a(0)); case "atanh" => atanh(a(0))
    case "isnan" => isnan(a(0))
    case "isinf" =>
      a(0) === Double.PositiveInfinity || a(0) === Double.NegativeInfinity
    case "isfinite" =>
      !isnan(a(0)) && a(0) =!= Double.PositiveInfinity &&
        a(0) =!= Double.NegativeInfinity
    // quantize lifts element-wise over embeddings too (MLDB-1972
    // quantizes an fft round-trip)
    case "quantize" =>
      shapewise(scope, a(0), floatOnly = false, x => M.quantize(x, a(1)))
    case "clamp" => M.clamp(a(0), a(1), a(2))
    // repairs lift element-wise over rows and embeddings (MLDB-917:
    // `replace_nan({*}, 0)`, `replace_inf([…], 98)`)
    case "replace_nan" =>
      shapewise(scope, a(0), floatOnly = true, x => M.replaceNan(x, a(1)))
    case "replace_inf" =>
      shapewise(scope, a(0), floatOnly = true, x => M.replaceInf(x, a(1)))
    case "replace_not_finite" =>
      shapewise(scope, a(0), floatOnly = true, x => M.replaceNotFinite(x, a(1)))
    case "replace_null" =>
      shapewise(scope, a(0), floatOnly = false, x => M.replaceNull(x, a(1)))
    case "binomial_ub_80" => M.binomialUb80(a(0), a(1))
    case "binomial_lb_80" => M.binomialLb80(a(0), a(1))
    case "pi" => lit(math.Pi)
    case "e" => lit(math.E)
    case "greatest" => greatest(a: _*)
    case "least" => least(a: _*)
    case "coalesce" => coalesce(a: _*)
    // string
    case "lower" => lower(a(0))
    case "upper" => upper(a(0))
    case "length" => length(a(0))
    case "substr" | "substring" => a(0).substr(a(1), a.lift(2).getOrElse(lit(Int.MaxValue)))
    case "trim" => trim(a(0))
    case "replace" => if (a.size == 3) regexp_replace(a(0), a(1), a(2)) else a(0)
    case "regex_replace" => regexp_replace(a(0), a(1), a(2))
    // reference regex_match matches the ENTIRE string (doc
    // `sql/ValueExpression.md` regex_match): anchor the pattern.
    case "regex_match" => raw(1) match {
      case StrLit(s) => a(0).rlike(s"^(?:$s)$$")
      case _ => // dynamic pattern (MLDB-1639 join conditions)
        call_function("rlike", a(0),
          concat(lit("^(?:"), a(1), lit(")$")))
    }
    case "levenshtein_distance" => levenshtein(a(0), a(1))
    // jaccard_index: over two token BAGS (the reference signature,
    // MLDB-1668 — jaccard of the key sets; empty∩empty = 1), or the
    // text-text convenience form over default-tokenized strings.
    case "jaccard_index" =>
      val isBag = raw.length == 2 && raw.forall {
        case FnCall("tokenize", _, _) => true
        case _ => false
      }
      if (isBag) {
        val (ka, kb) = (map_keys(a(0)), map_keys(a(1)))
        val inter = size(array_intersect(ka, kb)).cast("double")
        val uni = size(array_union(ka, kb)).cast("double")
        when(uni === 0, lit(1.0)).otherwise(inter / uni)
      } else T.jaccardTokens(a(0), a(1))
    case "split_part" =>
      if (a.length >= 3) split_part(a(0), a(1), a(2))
      else {
        // reference 2-arg form (token_split registered as
        // "split_part", `builtin_functions.cc:1958-1991`): a row of
        // parts keyed "0".."n-1" (MLDB-2108); extract a single part
        // with the postfix subscript `split_part(x, sep)["2"]`.
        val parts = raw(1) match {
          case StrLit(sep) => split(a(0), java.util.regex.Pattern.quote(sep))
          case _ => call_function("split", a(0), a(1))
        }
        map_from_arrays(
          transform(sequence(lit(0), size(parts) - 1), i => i.cast("string")),
          parts)
      }
    case "concat" => concat(a: _*)
    case "remove_prefix" =>
      when(a(0).startsWith(a(1)),
        a(0).substr(length(a(1)) + 1, length(a(0)))).otherwise(a(0))
    case "remove_suffix" =>
      when(a(0).endsWith(a(1)),
        a(0).substr(lit(1), length(a(0)) - length(a(1)))).otherwise(a(0))
    // regex_search: partial match anywhere in the string
    // (`builtin_functions.cc` regex battery); regex_match above is the
    // FULL-string match.
    case "regex_search" => raw(1) match {
      case StrLit(s) => a(0).rlike(s)
      case _ => // dynamic pattern (MLDB-1639 join conditions)
        call_function("rlike", a(0), a(1))
    }
    // timestamp
    case "date_part" => raw(0) match {
      // units per the reference's TimestampExpr
      // (`sql/builtin_functions.cc` date_part; MLDB-906 pins them):
      // dow 0=Sunday, doy 0-based, week = weeks since Jan 1,
      // quarter = floor(month/4)+1 (sic — July is Q2 there),
      // isodoy = day within the ISO year, ms/µs = within-second parts
      case StrLit(unit) =>
        val ts = a(1).cast("timestamp")
        unit.toLowerCase match {
          case "isodow" => P.isoDow(ts)
          case "isoweek" => P.isoWeek(ts)
          case "isoyear" => date_part(lit("YEAROFWEEK"), ts).cast("long")
          case "isodoy" =>
            ((P.isoWeek(ts) - 1L) * 7L + P.isoDow(ts)).cast("long")
          case "dow" => (date_part(lit("DOW"), ts) - 1L).cast("long")
          case "doy" => (date_part(lit("DOY"), ts) - 1L).cast("long")
          case "week" => floor((date_part(lit("DOY"), ts) - 1L) / 7L).cast("long")
          case "quarter" =>
            (floor(date_part(lit("MONTH"), ts) / 4L) + 1L).cast("long")
          case "second" => floor(date_part(lit("SECOND"), ts)).cast("long")
          case "millisecond" =>
            floor(pmod(call_function("unix_micros", ts), lit(1000000L)) / 1000L)
              .cast("long")
          case "microsecond" =>
            pmod(call_function("unix_micros", ts), lit(1000000L)).cast("long")
          case u => date_part(lit(u), ts).cast("long")
        }
      case _ => throw new IllegalArgumentException("date_part unit must be literal")
    }
    case "date_trunc" => raw(0) match {
      case StrLit(unit) => date_trunc(unit, a(1))
      case _ => throw new IllegalArgumentException("date_trunc unit must be literal")
    }
    case "to_timestamp" => a(0).cast("timestamp")
    case "now" => current_timestamp()
    case "value_timestamp" | "latest_timestamp" | "earliest_timestamp" =>
      if (scope.hasColumn("ts")) col("ts") else lit(null)
    // wide mode: one timestamp per row, so the distinct set is a
    // singleton; `at` re-timestamps a value, which changes nothing
    // observable when the value is read back in the same row
    case "distinct_timestamps" =>
      if (scope.hasColumn("ts")) array(col("ts"))
      else array().cast("array<timestamp>")
    case "at" => a(0)
    // text / ML features. tokenize takes the reference's options row:
    // {splitChars: '...', ngramRange: [lo, hi], minTokenLength: n}
    // (`sql/builtin_functions.cc:1915`).
    // tokenize: the reference's exact semantics (`sql/tokenize.cc`) —
    // case-preserving, default splitChars ",", quoteChar / offset /
    // limit / value / minTokenLength / ngramRange (incl. the legacy
    // snake_case option names, tokenize.cc:52-80).
    case "tokenize" =>
      val o = tokenizeOptions(raw.lift(1), "tokenize")
      T.tokenizeRef(a(0), o.split, o.quote, o.minLen, o.ngram,
        o.offset, o.limit, o.value.map(lowerExpr(scope, _)))
    // token_extract(str, n [, options]): nth token 0-based after
    // `offset`; negative counts from the end of the offset/limit
    // window (`builtin_functions.cc:1956`).
    case "token_extract" =>
      val o = tokenizeOptions(raw.lift(2), "token_extract")
      T.tokenExtractRef(a(0), a(1), o.split, o.quote, o.minLen,
        o.offset, o.limit)
    case "token_count" => T.tokenCount(a(0))
    case "stem" | "stemmer" => graft.operators.TextAnalysis.stem(a(0))
    // LLM-pipeline text hygiene (beyond the reference)
    case "redact_pii" => T.redactPii(a(0))
    case "repetition_ratio" =>
      T.repetitionRatio(a(0), raw.lift(1) match {
        case Some(NumLit(v, _)) => v.toInt
        case _ => 2
      })
    case "normalize_url" => T.normalizeUrl(a(0))
    case "nfc_normalize" => T.nfcNormalize(a(0))
    case "fix_text" => T.fixText(a(0))
    case "language_id" => T.langId(a(0))
    case "quality_score" => T.qualityScore(a(0))
    case "fingerprint" => T.fingerprint(a(0))
    // hash(NULL) is NULL and hashes ignore timestamps
    // (builtin_hash_fct_test; VALUES diverge — xxhash64, not the
    // reference's highwayhash — documented since r2)
    case "hash" =>
      if (a.isEmpty) xxhash64()
      else when(a.map(_.isNull).reduce(_ || _), lit(null))
        .otherwise(xxhash64(a: _*))
    case "base64_encode" => base64(a(0).cast("binary"))
    case "base64_decode" => unbase64(a(0))
    // parse_json(x, 'schema-ddl') → structured row. The reference infers
    // the structure per-value at runtime (`builtin_functions.cc:1832`); a
    // columnar engine needs the schema up front, so we require it (and
    // fail loudly rather than silently passing the string through).
    case "parse_json" => raw.lift(1) match {
      case Some(StrLit(ddl)) => from_json(a(0), ddl, Map.empty[String, String])
      // the reference's options form (MLDBFB-573):
      // parse_json(x, {arrays: 'parse'|'encode', ignoreErrors: 1}).
      // The reference infers structure per value at runtime; the typed
      // engine infers ONE schema with a capped plan-time pass over the
      // column (the documented AS-*-style pattern), then parses with it.
      // the 1-arg form (MLDB-1840 `parse_json('{"": 5}') AS *`) is the
      // options form with defaults — capped plan-time inference
      case Some(StructLit(_)) | None =>
        val opts = raw.lift(1) match {
          case Some(StructLit(o)) => o
          case _ => Nil
        }
        val optMap = opts.map { case (k, v) => k.toLowerCase -> v }.toMap
        val arrays = optMap.get("arrays") match {
          case Some(StrLit(s)) => s.toLowerCase
          case None => "parse"
          case Some(_) => throw new IllegalArgumentException(
            "parse_json: NULL value found for the arrays option — it " +
              "must be the literal 'parse' or 'encode'")
        }
        require(arrays == "parse" || arrays == "encode",
          s"parse_json: arrays must be 'parse' or 'encode', got '$arrays'")
        val ignoreErrors = optMap.get("ignoreerrors").exists {
          case NumLit(v, _) => v != 0
          case BoolLit(b) => b
          case _ => false
        }
        val frame = scope.frames.map(_._2).find(df =>
          scala.util.Try(df.select(a(0))).isSuccess).getOrElse(
          throw new IllegalArgumentException("parse_json: unresolvable input"))
        val inferred = PlanTime.jsonSchema(frame, a(0), "parse_json")
        val schema = org.apache.spark.sql.types.StructType(inferred)
        val parsed = from_json(a(0), schema, Map.empty[String, String])
        val dataFields = inferred.map { f =>
          val g = parsed.getField(f.name)
          val v = f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.StructType
                if arrays == "encode" => to_json(g)
            case _ => g
          }
          v.as(f.name)
        }
        val allFields =
          if (ignoreErrors)
            dataFields :+ (a(0).isNotNull &&
              (if (inferred.isEmpty) lit(true) else parsed.isNull))
              .as("__parse_json_error__")
          else dataFields
        if (allFields.isEmpty) lit(null)
        else when(a(0).isNull, lit(null)).otherwise(struct(allFields: _*))
      case _ => throw new IllegalArgumentException(
        "parse_json(x, '<schema ddl>') requires an explicit schema, e.g. " +
          "parse_json(j, 'a INT, b STRING'); for single fields use " +
          "extract_json(x, '$.path')")
    }
    case "extract_json" => get_json_object(a(0), raw(1) match {
      case StrLit(s) => s
      case _ => throw new IllegalArgumentException("json path must be literal")
    })
    case "print_json" => to_json(a(0))
    // extract_column(name, row) (`builtin_functions.cc:2400`); the
    // name must be a literal (static schema)
    case "extract_column" => (raw(0), raw.lift(1)) match {
      case (StrLit(name), Some(_)) => a(1).getField(name)
      case (_, Some(StrLit(name))) => a(0).getField(name)
      case _ => throw new IllegalArgumentException(
        "extract_column needs a literal column name")
    }
    // signal battery (`sql/builtin_signal_functions.cc:214`). The
    // 2-arg form takes the reference's direction literal:
    // fft(x, 'forward') / fft(x, 'backward') (MLDB-1972)
    case "fft" => raw.lift(1) match {
      case Some(StrLit(d)) if d.equalsIgnoreCase("backward") =>
        graft.functions.SignalFunctions.ifft(a(0))
      case Some(StrLit(d)) if d.equalsIgnoreCase("forward") =>
        graft.functions.SignalFunctions.fft(a(0))
      case Some(_) => throw new IllegalArgumentException(
        "fft direction must be 'forward' or 'backward'")
      case None => graft.functions.SignalFunctions.fft(a(0))
    }
    case "ifft" => graft.functions.SignalFunctions.ifft(a(0))
    case "amplitude" => graft.functions.SignalFunctions.amplitude(a(0))
    case "phase" => graft.functions.SignalFunctions.phase(a(0))
    case "real" => graft.functions.SignalFunctions.realPart(a(0))
    case "imag" => graft.functions.SignalFunctions.imagPart(a(0))
    // reference impulse is 1-arg (1.0 at index 0,
    // `builtin_signal_functions.cc:293`); the 2-arg form is our
    // generalization and doubles as shifted_impulse (`:299`)
    case "impulse" => graft.functions.SignalFunctions.impulse(
      a(0), if (a.size > 1) a(1) else lit(0))
    case "shifted_impulse" =>
      graft.functions.SignalFunctions.impulse(a(0), a(1))
    // reshape(x, [shape] [, fill]) (`sql/builtin_functions.cc:2725`):
    // resize a 1-D embedding (truncate / pad with fill; out-of-range
    // element_at is NULL with ANSI off, so coalesce supplies the pad)
    // or fold it into [rows, cols] nested form. The shape must be a
    // literal — it decides the OUTPUT TYPE, which Catalyst fixes at
    // plan time. reshape(NULL, [n], fill) = constant array.
    case "reshape" =>
      val fill = a.lift(2).map(_.cast("double")).getOrElse(lit(null).cast("double"))
      // nested embedding literals flatten first (the reference's
      // embeddings are one buffer + a shape, MLDB-1947)
      val flatIn = (1 until staticDepth(raw(0))).foldLeft(a(0))((c, _) => flatten(c))
      val v0 = flatIn.cast("array<double>") // types an untyped NULL too
      // the 2-arg form is STRICT like the reference
      // (`expression_value.cc:1432`): changing the element count is an
      // error; only the 3-arg form (explicit fill) may pad/truncate
      val v = if (a.length >= 3) v0 else {
        val total = raw(1) match {
          case ArrayLit(dims) =>
            dims.map(d => lowerExpr(scope, d).cast("int"))
              .reduce(_ * _)
          case _ => lit(-1)
        }
        when(size(v0) === total, v0).otherwise(raise_error(concat(
          lit("Attempt to change embedding size by reshaping.  Original size "),
          size(v0).cast("string"), lit(", new size "), total.cast("string"))))
      }
      def cell(i: Column) = coalesce(element_at(v, i), fill)
      raw(1) match {
        case ArrayLit(Seq(_)) =>
          val n = element_at(a(1), 1).cast("int")
          transform(sequence(lit(1), n), i => cell(i))
        case ArrayLit(Seq(_, _)) =>
          val r = element_at(a(1), 1).cast("int")
          val c = element_at(a(1), 2).cast("int")
          transform(sequence(lit(0), r - 1),
            bi => transform(sequence(lit(1), c), j => cell(bi * c + j)))
        case ArrayLit(Seq(_, _, _)) =>
          val d1 = element_at(a(1), 1).cast("int")
          val d2 = element_at(a(1), 2).cast("int")
          val d3 = element_at(a(1), 3).cast("int")
          transform(sequence(lit(0), d1 - 1), i =>
            transform(sequence(lit(0), d2 - 1), j =>
              transform(sequence(lit(1), d3), k => cell((i * d2 + j) * d3 + k))))
        case _ => throw new IllegalArgumentException(
          "reshape needs a literal 1-D, 2-D or 3-D shape, e.g. reshape(x, [4], 0)")
      }
    // image.proximatevoxels appliable function
    // (`plugins/embedding/embedding.cc:1611-1685`): the (2r+1)^3 cubic
    // subvolume around (x, y, z) of a nested 3-D embedding — the
    // reference walks columns in (z, y, x) order; out-of-range
    // coordinates yield NULL cells (the reference instead requires
    // in-range input). Compose with reshape(v, [d,d,d]) to go from a
    // flat embedding to the voxel volume.
    case "proximate_voxels" =>
      val vv = a(0).cast("array<array<array<double>>>")
      val x = a(1).cast("int"); val y = a(2).cast("int")
      val z = a(3).cast("int")
      val r = a(4).cast("int")
      // element_at(_, 0) throws even with ANSI off; a negative
      // coordinate must yield NULL like an over-range one does
      def at1(arr: Column, i: Column) =
        when(i >= 1, element_at(arr, i))
      transform(sequence(z - r, z + r), kk =>
        transform(sequence(y - r, y + r), jj =>
          transform(sequence(x - r, x + r), ii =>
            at1(at1(at1(vv, kk + 1), jj + 1), ii + 1))))
    case "slice" => slice(a(0), a(1).cast("int"), a(2).cast("int"))
    case "geo_distance" => M.geoDistanceM(a(0), a(1), a(2), a(3))
    case "st_contains_point" => M.stContainsPoint(a(0), a(1), a(2))
    // path functions (`sql/builtin_functions.cc` path battery)
    case "parse_path" => P.parsePath(a(0))
    case "stringify_path" | "print_path" => P.stringifyPath(a(0))
    // a STRING path (`CAST ('1.2.3' AS path)` — paths are printed
    // text in wide mode) parses before element reads (MLDB-2063)
    case "path_element" => resolvedTypeOf(scope, a(0)) match {
      case Some(org.apache.spark.sql.types.StringType) =>
        P.pathElement(P.parsePath(a(0)), a(1))
      case _ => P.pathElement(a(0), a(1))
    }
    case "path_length" => resolvedTypeOf(scope, a(0)) match {
      case Some(org.apache.spark.sql.types.StringType) =>
        P.pathLength(P.parsePath(a(0)))
      case _ => P.pathLength(a(0))
    }
    // identity pair in our dotted-string path convention
    case "flatten_path" | "unflatten_path" => P.flattenPath(a(0))
    // web / blob
    case "extract_domain" =>
      val removeSub = raw.lift(1) match {
        case Some(StructLit(fields)) => fields.collectFirst {
          // the reference writes {removeSubdomain: 1} (MLDB-1753) —
          // accept both boolean and numeric truthiness
          case (k, v) if k.equalsIgnoreCase("removeSubdomain") => v match {
            case BoolLit(b) => b
            case NumLit(n, _) => n != 0
            case _ => false
          }
        }.getOrElse(false)
        case _ => false
      }
      P.extractDomain(a(0), removeSub)
    case "blob_length" => P.blobLength(a(0))
    case "mime_type" =>
      // the reference rejects non-atomic arguments at bind time
      // (`sql/builtin_functions.cc:3590`; MLDB-2166's not-blob pin)
      resolvedTypeOf(scope, a(0)) match {
        case Some(_: org.apache.spark.sql.types.StructType) |
             Some(_: org.apache.spark.sql.types.MapType) =>
          throw new IllegalArgumentException(
            "Mime type extraction requires that an atomic value " +
              "of type BLOB is passed to it.")
        case _ => P.mimeType(a(0))
      }
    // fetcher(url [, timeoutMs]) (`builtin/fetcher.cc:188`): url →
    // {content, error}; failures travel as data, never abort the query
    case "fetcher" | "fetch" =>
      graft.plans.Fetcher.column(a(0), raw.lift(1) match {
        case Some(NumLit(v, _)) => v.toInt
        case _ => 10000
      })
    // parse_exif(blob) (`sql/builtin_image_functions.cc:208`):
    // orientation/make/model/datetime from the JPEG APP1 TIFF walk
    case "parse_exif" => graft.plans.ExifMeta.column(a(0))
    case "image_meta" => graft.plans.ImageHeaderMeta.column(a(0))
    // html.parse capability family (`plugins/html/parse_html.cc`)
    case "html_to_text" => graft.functions.HtmlFunctions.htmlToText(a(0))
    case "html_title" => graft.functions.HtmlFunctions.htmlTitle(a(0))
    case "html_links" => graft.functions.HtmlFunctions.htmlLinks(a(0))
    // http.useragent (`plugins/html/useragent_function.cc:106`)
    case "parse_useragent" =>
      graft.functions.UserAgentFunctions.parseUserAgent(a(0))
    // tf_EncodePng (TensorFlow plugin surface; MLDB-1979): H×W×C pixel
    // embedding → PNG blob via the JDK encoder
    case "tf_encodepng" =>
      graft.plans.PngEncode.column(
        a(0).cast("array<array<array<double>>>"))
    // temporal_* over a wide-mode cell: each cell holds ONE timestamped
    // value, so the per-cell history aggregate degenerates to the value
    // itself (count is 0/1). Multi-version cells live in EAV mode
    // (core.Eav.temporalAgg) — documented divergence, SURVEY §1.4.
    case "temporal_count" => when(a(0).isNotNull, 1L).otherwise(0L)
    case "temporal_sum" | "temporal_avg" | "temporal_min" | "temporal_max" |
         "temporal_earliest" | "temporal_latest" => a(0)
    // try(expr, fallback): in non-ANSI mode the error classes the
    // reference's try recovers from (bad casts, malformed numeric
    // input, div-by-zero) surface as NULL, so coalescing with the
    // fallback reproduces the recover path; errors that still throw
    // (e.g. invalid regex literals) abort the query — documented
    // divergence from the reference's catch-all. A NULL that arrives
    // because an INPUT column was NULL is legitimate data, not an
    // error (errors need non-null input in non-ANSI mode), so any-
    // input-null keeps the expr result instead of the fallback.
    // 1-arg try(expr): the reference returns the error MESSAGE as the
    // value; in non-ANSI mode recoverable errors surface as NULL, so
    // the analog is the expression itself with NULL standing in for
    // the message (documented divergence — no error text available).
    case "try" if a.size < 2 => a(0)
    case "try" =>
      val inputs = collectIdents(raw(0)).filter(scope.hasColumn).map(col)
      // a row-valued expression beside an atom fallback can't share a
      // column type; the expression lowered without error, so the
      // fallback (which only fires on error) is dropped —
      // try(parse_json('{"a": 5}'), 'err') reads the parsed row
      // (try_except_builtin_fct)
      val rowBesideAtom = (resolvedTypeOf(scope, a(0)),
        resolvedTypeOf(scope, a(1))) match {
        case (Some(x), Some(y)) =>
          x.isInstanceOf[org.apache.spark.sql.types.StructType] !=
            y.isInstanceOf[org.apache.spark.sql.types.StructType]
        case _ => false
      }
      if (rowBesideAtom) a(0)
      else if (inputs.isEmpty) coalesce(a(0), a(1))
      else when(inputs.map(_.isNull).reduce(_ || _), a(0))
        .otherwise(coalesce(a(0), a(1)))
    // implicit_cast (`sql/builtin_functions.cc:949`): string values
    // that parse as numbers become numbers, the empty string becomes
    // NULL, non-strings (and non-numeric strings) pass through.
    case "implicit_cast" =>
      staticType(scope, raw(0)).orElse(resolvedTypeOf(scope, a(0))) match {
        case Some(org.apache.spark.sql.types.StringType) =>
          // column type from a capped plan-time sample: all-integer
          // strings become longs (MLDB-1275's implicit_cast(rowName())
          // renders 0, not 0.0), all-numeric become doubles, mixed
          // stay strings (per-cell conversion is not expressible in a
          // single typed column — documented divergence)
          val kind = scope.frames.map(_._2)
            .find(f => scala.util.Try(f.select(a(0))).isSuccess)
            .map(f => PlanTime.stringNumericKind(f, a(0), "implicit_cast"))
            .getOrElse("double")
          kind match {
            case "long" => a(0).cast("long")
            case "double" => when(a(0) === "", lit(null))
              .otherwise(a(0).cast("double"))
            case _ => when(a(0) === "", lit(null)).otherwise(a(0))
          }
        case _ => a(0)
      }
    // vector
    // p may be a number or the `inf` literal (MLDB-953); a row literal
    // argument reads as a vector of its field values
    case "norm" => V.norm(toVector(scope, a(0)), pLiteral(raw.lift(1)))
    case "normalize" =>
      // a NESTED (2-D+) embedding normalizes over its FLATTENED
      // elements, keeping the shape (MLDB-1317
      // `normalize([[10,20],[30,40]], 1)` → each / 100)
      import org.apache.spark.sql.types._
      val v0 = toVector(scope, a(0))
      val p = pLiteral(raw.lift(1))
      resolvedTypeOf(scope, v0) match {
        case Some(at: ArrayType) if at.elementType.isInstanceOf[ArrayType] =>
          var flat = v0
          var dt: DataType = at
          while (dt.isInstanceOf[ArrayType] &&
              dt.asInstanceOf[ArrayType].elementType.isInstanceOf[ArrayType]) {
            flat = flatten(flat)
            dt = dt.asInstanceOf[ArrayType].elementType
          }
          val n = V.norm(flat.cast("array<double>"), p)
          def rec(cc: Column, d: DataType): Column = d match {
            case a2: ArrayType => transform(cc, x => rec(x, a2.elementType))
            case _ => when(n === 0.0, cc.cast("double"))
              .otherwise(cc.cast("double") / n)
          }
          rec(v0, at)
        case _ => V.normalize(v0, p)
      }
    // a numeric-named row literal reads as a vector (MLDB-923:
    // vector_sum([1,2,3], {"0":3, "1":2, "2":1}))
    case "vector_sum" => V.vectorSum(toVector(scope, a(0)), toVector(scope, a(1)))
    case "vector_diff" => V.vectorDiff(toVector(scope, a(0)), toVector(scope, a(1)))
    case "vector_product" => V.vectorProduct(toVector(scope, a(0)), toVector(scope, a(1)))
    case "vector_quotient" => V.vectorQuotient(toVector(scope, a(0)), toVector(scope, a(1)))
    case "dot_product" => V.dot(a(0), a(1))
    case "cosine_similarity" => V.cosine(a(0), a(1))
    // shape: nested dims from the static AST when knowable (nested
    // array literal, or a reshape call whose shape literal we can
    // read — MLDB-1947); flat embeddings report [size]
    case "shape" => staticDims(raw(0)) match {
      case Some(dims) =>
        // the size() guard forces evaluation of the child (a strict
        // 2-arg reshape must still raise on a size mismatch even when
        // the dims are statically knowable); NULL child → NULL shape
        when(size(a(0)) >= 0,
          array(dims.map(d => lowerExpr(scope, d).cast("int")): _*))
      case None => array(size(a(0)))
    }
    case "flatten" => flatten(a(0))
    // dataset context
    case n if n.startsWith("horizontal_") =>
      // FnCall form: `horizontal_string_agg({...}, ', ')` — a row
      // literal plus extra parameters (here the separator). Fields
      // lower in name order like the FnApply form (MLDB-1554).
      raw.headOption match {
        case Some(StructLit(fields)) =>
          val cols = fields.sortBy(_._1).map { case (_, v) => lowerExpr(scope, v) }
          val sep = raw.lift(1) match {
            case Some(StrLit(s)) => Some(s)
            case _ => None
          }
          horizontalFn(n, cols, sep)
        // an embedding argument aggregates its elements (MLDB-953
        // `horizontal_sum(normalize(...) - [...]/norm(...))`)
        case Some(arg) if a.size == 1 && arrayShaped(scope, arg) =>
          horizontalArrayFn(n, a.head)
        // a STRUCT-typed argument is a row cell (MLDB-2022's
        // horizontal_sum(value) over one nested row of the pivoted
        // input) — its fields aggregate in name order like the
        // row-literal form
        case Some(_) if a.nonEmpty
            && structFieldsOf(scope, a.head).isDefined =>
          val fs = structFieldsOf(scope, a.head).get.sorted
          val sep = raw.lift(1) match {
            case Some(StrLit(s)) => Some(s)
            case _ => None
          }
          horizontalFn(n, fs.map(f => a.head.getField(f)), sep)
        case _ => horizontalFn(n, a)
      }
    case "_fail_memory_allocation" =>
      // test-only builtin (`plugins/testing` — MLDB-1355/1010): fails
      // the bind with the std::bad_alloc message shape
      throw new OomSimulated(
        "Out of memory.  To attempt to determine the cause, the malloc " +
          "debugging environment variable may be set")
    case "rowname" => rowNameOf(scope)
    case "rowhash" =>
      if (scope.hasColumn("rowName")) xxhash64(rowNameOf(scope)) else lit(null)
    case "rowpath" =>
      if (scope.hasColumn("rowName")) P.parsePath(col("rowName"))
      else lit(null).cast("array<string>")
    case "rowpathelement" =>
      if (scope.hasColumn("rowName")) P.pathElement(P.parsePath(col("rowName")), a(0))
      else lit(null).cast("string")
    // join context (`core/dataset_scope.cc`): the row names of the two
    // join sides. Resolved against the FIRST / LAST scope frame that
    // carries a rowName column.
    case "leftrowname" | "rightrowname" =>
      // MLDB-1710: the right side is the LAST joined frame, the left
      // side is everything before it — composed as `[a]-[b]` when the
      // left is itself a join, bare otherwise; a padded outer side
      // reads as ''. Outside a join both raise, like the reference.
      val joined = scope.frames.collect { case (Some(al), df) =>
        (al, df.columns.exists(_.equalsIgnoreCase("rowName")))
      }.distinct
      if (joined.size < 2)
        throw new IllegalArgumentException(
          s"Function '${if (name == "leftrowname") "leftRowName"
            else "rightRowName"}' is not available outside of a join")
      def bare(side: (String, Boolean)): Column =
        if (side._2) coalesce(col(s"${side._1}.rowName").cast("string"), lit(""))
        else lit("")
      if (name == "rightrowname") bare(joined.last)
      else if (joined.size == 2) bare(joined.head)
      else joined.init.map(s => concat(lit("["), bare(s), lit("]")))
        .reduce((x, y) => concat(x, lit("-"), y))
    // per-row count of non-null columns (doc `sql/ValueExpression.md:300`
    // — a sparse row's columnCount is its actual cells, not schema width);
    // rowName is the row's name, not one of its columns.
    case "columncount" =>
      // dedupe by name: the lowering appends its working projection as
      // an extra scope frame, so the same column can appear twice; and
      // reference columns unqualified — materialized projections drop
      // the FROM alias qualifier.
      val names = scope.allColumns.map(_._2)
        .filter(!_.equalsIgnoreCase("rowName")).map(_.toLowerCase).distinct
      if (names.isEmpty) lit(0L)
      else names.map(n => when(col(n).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
    // jseval: per-row JavaScript (reference builtin/js/js_function.cc).
    // Script and arg-name list must be string literals; remaining args
    // are evaluated per row and bound as JS locals.
    case "jseval" | "jseval_num" | "jseval_str" | "jseval_bool" =>
      val mode = name match {
        case "jseval" => "json"
        case other0 => other0.stripPrefix("jseval_")
      }
      // script + arg names come from the dialect's own AST literals
      // (the bridge's Column→Expression conversion is lazy and not
      // foldable before analysis, so JsEval.build can't inspect it)
      if (raw.size < 2) throw new IllegalArgumentException(
        "jseval expected at least 2 arguments, got " + raw.size)
      val script = raw.headOption match {
        case Some(StrLit(s)) => s
        case _ => throw new IllegalArgumentException(
          "jseval: the script (first argument) must be a string literal")
      }
      val names = raw.drop(1).headOption match {
        case Some(StrLit(s)) =>
          s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        case _ => throw new IllegalArgumentException(
          "jseval: the argument-name list (second argument) must be a string literal")
      }
      org.apache.spark.sql.GraftColumnBridge.column(graft.plans.JsEval(
        script, names,
        a.drop(2).map(org.apache.spark.sql.GraftColumnBridge.expression),
        mode))
    // static-binding introspection (`sql/sql_expression.cc`
    // getUnbound — MLDB-1935 `__isconst`, MLDB-1984
    // `static_expression_info`): constancy is a PLAN-TIME fact here
    // exactly as in the reference's bind phase
    // static_type / static_known_columns (MLDB-1486,
    // `sql/builtin_functions.cc:2979/3028`): plan-time type
    // reflection rendered with the reference's ValueInfo class names
    case "static_type" => {
      import org.apache.spark.sql.types._
      val isConst = if (isConstExpr(raw(0))) 1 else 0
      val (kind, scalar, tn) = resolvedTypeOf(scope, a(0)) match {
        case Some(LongType | IntegerType | ShortType | ByteType) =>
          ("scalar", "i64", "MLDB::IntegerValueInfo")
        case Some(DoubleType) => ("scalar", "f64", "MLDB::Float64ValueInfo")
        case Some(FloatType) => ("scalar", "f32", "MLDB::Float32ValueInfo")
        case Some(BooleanType) => ("scalar", "u8", "MLDB::BooleanValueInfo")
        case Some(StringType) =>
          ("scalar", "Utf8String", "MLDB::Utf8StringValueInfo")
        case Some(TimestampType) => ("scalar", "Date", "MLDB::TimestampValueInfo")
        case Some(_: ArrayType) => ("embedding", "", "MLDB::EmbeddingValueInfo")
        case Some(_: StructType) => ("row", "", "MLDB::RowValueInfo")
        case _ => ("scalar", "MLDB::CellValue", "MLDB::AtomValueInfo")
      }
      struct(lit(isConst).as("isConstant"), lit(kind).as("kind"),
        lit(scalar).as("scalar"), lit(tn).as("type"))
    }
    case "static_known_columns" => raw(0) match {
      case ArrayLit(items) =>
        // an embedding literal's columns: one dense CellValue slot per
        // element, named by its index (the MLDB-1486 table shape)
        struct(items.indices.map { i =>
          struct(lit(i.toString).as("columnName"),
            lit(i).as("offset"),
            lit("dense").as("sparsity"),
            struct(lit(0).as("isConstant"), lit("scalar").as("kind"),
              lit("MLDB::CellValue").as("scalar"),
              lit("MLDB::AtomValueInfo").as("type")).as("valueInfo"))
            .as(i.toString)
        }: _*)
      case _ => throw new IllegalArgumentException(
        "static_known_columns needs an embedding literal")
    }
    case "__isconst" => lit(isConstExpr(raw(0)))
    case "static_expression_info" =>
      // MLDB-1984/1317: isConstant + kind, and for embeddings the
      // static shape (from the literal AST, like the reference's
      // EmbeddingValueInfo) and the element storage type. The
      // reference's quantize binds NON-constant (MLDB-1317 pins
      // isConstant 0 on quantize(normalize(...))) — mirrored.
      import org.apache.spark.sql.types._
      def quirkNonConst(e: Expr): Boolean = e match {
        case FnCall(n, _, _) if n.equalsIgnoreCase("quantize") => true
        case _ => false
      }
      val isConst = isConstExpr(raw(0)) && !quirkNonConst(raw(0))
      def staticShape(e: Expr): Option[Seq[Int]] = e match {
        case ArrayLit(items) =>
          val inner = items.map(staticShape)
          if (items.isEmpty) Some(Seq(0))
          else if (inner.forall(_ == inner.head))
            Some(items.size +: inner.head.getOrElse(Seq.empty))
          else Some(Seq(items.size))
        case FnCall(n, as2, _) if as2.nonEmpty && Set("normalize",
            "quantize", "replace_nan", "replace_inf",
            "replace_not_finite", "replace_null")(n.toLowerCase) =>
          staticShape(as2.head)
        case _ => None
      }
      def leafType(dt: DataType): String = dt match {
        case at: ArrayType => leafType(at.elementType)
        case LongType | IntegerType | ShortType | ByteType => "INT64"
        case DoubleType | _: DecimalType => "FLOAT64"
        case FloatType => "FLOAT32"
        case StringType => "UTF8STRING"
        case BooleanType => "BOOLEAN"
        case TimestampType => "TIMESTAMP"
        case other2 => other2.simpleString.toUpperCase
      }
      val t = resolvedTypeOf(scope, a(0))
      val kind = t match {
        case Some(_: ArrayType) => "embedding"
        case Some(_: StructType) => "row"
        case _ => "scalar"
      }
      val infoFields: Seq[Column] =
        Seq(lit(if (isConst) 1 else 0).as("isConstant"),
          lit(kind).as("kind")) ++
          (if (kind == "embedding") {
            val shape = staticShape(raw(0)).getOrElse(Seq.empty)
            shape.zipWithIndex.map { case (d, i) =>
              lit(d).as(s"shape.$i") } :+
              lit(t.map(leafType).getOrElse("ATOM")).as("type")
          } else Seq.empty)
      struct(struct(infoFields: _*).as("info"))
    case other =>
      throw new IllegalArgumentException(s"Unable to find function '$other'")
  }

  /** Plan-time constancy of an expression (MLDB-1935): no column
    * references and no row-context functions. */
  private def isConstExpr(e: Expr): Boolean = e match {
    case Ident(Seq(n))
        if n.equalsIgnoreCase("inf") || n.equalsIgnoreCase("nan") => true
    case Ident(_) => false
    case Star(_, _, _) | ColumnExprStar(_, _, _, _, _, _) => false
    case Param(_) => true // bound to a literal at plan time
    case NullLit() | BoolLit(_) | NumLit(_, _) | StrLit(_) |
         IntervalLit(_, _, _) => true
    case FnCall(n, as, _) =>
      !Set("rowname", "rowhash", "rowpath", "rowpathelement",
        "value_timestamp", "latest_timestamp", "earliest_timestamp",
        "linenumber", "rowcount", "columncount", "fetcher", "fetch",
        "now", "random", "rand")(n.toLowerCase) && as.forall(isConstExpr)
    case FnApply(_, as, _) => as.forall(kv => isConstExpr(kv._2))
    case Binary(_, l, r) => isConstExpr(l) && isConstExpr(r)
    case Unary(_, x) => isConstExpr(x)
    case CastExpr(x, _) => isConstExpr(x)
    case StructLit(fs) => fs.forall(f => isConstExpr(f._2))
    case ArrayLit(xs) => xs.forall(isConstExpr)
    case CaseWhen(op, br, oe) =>
      (op.toSeq ++ br.flatMap(b => Seq(b._1, b._2)) ++ oe.toSeq)
        .forall(isConstExpr)
    case Between(x, lo, hi, _) => Seq(x, lo, hi).forall(isConstExpr)
    case InList(x, its, _) => (x +: its).forall(isConstExpr)
    case IsNull(x, _) => isConstExpr(x)
    case IsType(x, _, _) => isConstExpr(x)
    case LikeExpr(x, p2, _) => isConstExpr(x) && isConstExpr(p2)
    case Extract(x, k) => isConstExpr(x) && isConstExpr(k)
    case _ => false
  }

  /** horizontal_* (`sql/builtin_functions.cc` horizontal battery):
    * aggregate ACROSS a row's columns, skipping nulls. Pure array
    * Column math — codegen'd, no UDF, no shuffle. In wide mode all of
    * a row's cells share the row timestamp, so earliest/latest take
    * the first/last non-null in column order. */
  /** horizontal_* over an EMBEDDING argument: aggregate the array's
    * elements (null elements skipped, like the column form). */
  private def horizontalArrayFn(name: String, arr: Column): Column = {
    def nn = filter(arr.cast("array<double>"), v => v.isNotNull)
    name match {
      case "horizontal_count" => size(nn).cast("long")
      case "horizontal_sum" =>
        // the reference accumulates from 0 and always returns — an
        // empty/all-null row sums to 0 (`builtin_functions.cc:2030`,
        // MLDB-2022's horizontal_sum([]) = 0); avg stays NULL on empty
        // (`:2121` returns null when num_cols == 0)
        coalesce(aggregate(nn, lit(0.0), _ + _), lit(0.0))
      case "horizontal_avg" =>
        when(size(nn) > 0, aggregate(nn, lit(0.0), _ + _) / size(nn))
      case "horizontal_min" => array_min(arr)
      case "horizontal_max" => array_max(arr)
      case "horizontal_string_agg" =>
        array_join(filter(arr.cast("array<string>"), v => v.isNotNull), ",")
      case "horizontal_earliest" => element_at(nn, 1)
      case "horizontal_latest" => element_at(nn, -1)
      case other => throw new IllegalArgumentException(s"Unable to find function '$other'")
    }
  }

  private def horizontalFn(name: String, cols: Seq[Column],
      sep: Option[String] = None): Column = {
    def nn = filter(array(cols.map(_.cast("double")): _*), v => v.isNotNull)
    name match {
      case "horizontal_count" => size(nn).cast("long")
      case "horizontal_sum" =>
        // 0 on empty/all-null, like the reference (see horizontalArrayFn)
        coalesce(aggregate(nn, lit(0.0), _ + _), lit(0.0))
      case "horizontal_avg" =>
        when(size(nn) > 0, aggregate(nn, lit(0.0), _ + _) / size(nn))
      // min/max are TYPE-PRESERVING (strings, timestamps — the
      // reference compares CellValues of any type, MLDB-1706);
      // least/greatest skip nulls and coerce mixed numerics
      case "horizontal_min" =>
        if (cols.size == 1) cols.head else least(cols: _*)
      case "horizontal_max" =>
        if (cols.size == 1) cols.head else greatest(cols: _*)
      case "horizontal_string_agg" =>
        array_join(filter(array(cols.map(_.cast("string")): _*),
          v => v.isNotNull), sep.getOrElse(","))
      case "horizontal_earliest" => coalesce(cols: _*)
      case "horizontal_latest" => coalesce(cols.reverse: _*)
      case other => throw new IllegalArgumentException(s"Unable to find function '$other'")
    }
  }

  /** Driver-side evaluator for COLUMN EXPR's mini-expressions: they
    * operate on the COLUMN SET (names), not on data — with a static
    * schema this is pure metadata logic (`Reshape.selectColumnsExpr`
    * is the API twin). Supports the doc's surface
    * (`sql/SelectExpression.md:43-96`): columnName(), string
    * concat/compare, lower/upper/length, regex_match, LIKE. */
  private object ColumnSetEval {
    /** per-column non-null row counts, set by expandColumnExpr when an
      * expression mentions rowCount() */
    val stats = new scala.util.DynamicVariable[String => Long](
      _ => throw new IllegalArgumentException(
        "rowCount() needs column statistics"))
    def evalStr(e: Expr, name: String): String = String.valueOf(eval(e, name))
    def evalBool(e: Expr, name: String): Boolean = eval(e, name) match {
      case b: Boolean => b
      case null => false
      case other => throw new IllegalArgumentException(
        s"COLUMN EXPR predicate must be boolean, got $other")
    }
    def eval(e: Expr, name: String): Any = e match {
      case StrLit(v) => v
      case NumLit(v, i) => if (i) v.toLong else v.toDouble
      case BoolLit(v) => v
      case NullLit() => null
      case FnCall("columnname" | "columnpath", _, _) => name
      // nth dot-path element; negative counts from the end — NULL when
      // out of range (MLDB-1779: columnPathElement(-2) = '0')
      case FnCall("columnpathelement", Seq(ix), _) =>
        val parts = name.split("\\.")
        val i0 = eval(ix, name) match {
          case l: Long => l.toInt
          case d: Double => d.toInt
          case s => String.valueOf(s).toInt
        }
        val i = if (i0 < 0) parts.length + i0 else i0
        if (i < 0 || i >= parts.length) null else parts(i)
      case Unary("-", x) => eval(x, name) match {
        case l: Long => -l
        case d: Double => -d
        case other => throw new IllegalArgumentException(
          s"COLUMN EXPR: cannot negate $other")
      }
      case FnCall("columnpathlength", _, _) =>
        name.split("\\.").length.toLong
      // rowCount(): rows having this column — needs the one data pass
      // the caller precomputes (MLDB-1172 `ORDER BY rowCount() DESC`)
      case FnCall("rowcount", _, _) => stats.value(name)
      // parse_path / unflatten_path normalize a path's PRINT: a whole
      // quoted single element unwraps ("x.y.z" → x.y.z — MLDBFB-646's
      // rename battery); an already-plain name passes through
      case FnCall("parse_path" | "unflatten_path", Seq(x), _) =>
        val s = evalStr(x, name)
        if (s.length >= 2 && s.startsWith("\"") && s.endsWith("\""))
          s.substring(1, s.length - 1).replace("\"\"", "\"")
        else s
      case FnCall("lower", Seq(x), _) => evalStr(x, name).toLowerCase
      case FnCall("upper", Seq(x), _) => evalStr(x, name).toUpperCase
      case FnCall("length", Seq(x), _) => evalStr(x, name).length.toLong
      case FnCall("regex_match", Seq(x, StrLit(re)), _) =>
        evalStr(x, name).matches(re)
      case FnCall("regex_search", Seq(x, StrLit(re)), _) =>
        re.r.findFirstIn(evalStr(x, name)).isDefined
      case LikeExpr(x, StrLit(p), neg) =>
        val re = java.util.regex.Pattern.quote(p)
          .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q")
        val m = evalStr(x, name).matches(re)
        if (neg) !m else m
      case Binary("||", l, r) => evalStr(l, name) + evalStr(r, name)
      case Binary("+", l, r) => (eval(l, name), eval(r, name)) match {
        case (a: Long, b: Long) => a + b
        case (a, b) => String.valueOf(a) + String.valueOf(b)
      }
      case Binary("=", l, r) => eval(l, name) == eval(r, name)
      case Binary("!=", l, r) => eval(l, name) != eval(r, name)
      case Binary(op @ ("<" | "<=" | ">" | ">="), l, r) =>
        val c = (eval(l, name), eval(r, name)) match {
          case (a: String, b: String) => a.compareTo(b)
          case (a: Long, b: Long) => a.compareTo(b)
          case (a, b) => String.valueOf(a).compareTo(String.valueOf(b))
        }
        op match {
          case "<" => c < 0; case "<=" => c <= 0
          case ">" => c > 0; case ">=" => c >= 0
        }
      case Binary("and", l, r) => evalBool(l, name) && evalBool(r, name)
      case Binary("or", l, r) => evalBool(l, name) || evalBool(r, name)
      case Unary("not", x) => !evalBool(x, name)
      case other => throw new IllegalArgumentException(
        s"unsupported in COLUMN EXPR: $other")
    }
  }

  /** Expand a COLUMN EXPR select item against the scope's column set:
    * filter / order / limit / rename the NAMES driver-side, emit plain
    * column references — zero data movement. */
  private def mentionsRowCount(e: Expr): Boolean = e match {
    case FnCall("rowcount", _, _) => true
    case FnCall(_, args, _) => args.exists(mentionsRowCount)
    case Binary(_, l, r) => mentionsRowCount(l) || mentionsRowCount(r)
    case Unary(_, x) => mentionsRowCount(x)
    case LikeExpr(x, pat, _) => mentionsRowCount(x) || mentionsRowCount(pat)
    case _ => false
  }

  private def expandColumnExpr(scope: Scope, ce: ColumnExprStar): Seq[Column] = {
    // the reference's column set is LEAF cells: a struct-typed column
    // contributes its dotted leaf paths (MLDB-1779's
    // columnPathElement(-2) over parse_json's friends.0.name)
    val leafCols: Seq[(String, Column)] = {
      def leaves(name: String, c: Column,
          dt: org.apache.spark.sql.types.DataType): Seq[(String, Column)] =
        dt match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fields.toSeq.flatMap(f =>
              leaves(s"$name.${f.name}", c.getField(f.name), f.dataType))
          case _ => Seq(name -> c)
        }
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      scope.frames.flatMap { case (_, df) =>
        df.schema.fields.toSeq.flatMap { f =>
          if (f.name.equalsIgnoreCase("rowName") || f.name.startsWith("__") ||
              seen.contains(f.name.toLowerCase)) Nil
          else {
            seen += f.name.toLowerCase
            leaves(f.name, df.col(s"`${f.name}`"), f.dataType)
          }
        }
      }
    }
    val byName = leafCols.toMap
    var names = leafCols.map(_._1)
    // one aggregate pass supplies rowCount() when mentioned — counts
    // of non-null cells per column (sparse "rows having the column")
    val needsCounts = ce.where.exists(mentionsRowCount) ||
      ce.orderBy.exists(o => mentionsRowCount(o.e)) ||
      ce.as.exists(mentionsRowCount)
    val countFn: String => Long = if (needsCounts) {
      // Count each column FROM THE FRAME THAT OWNS IT: over a join the
      // right side's columns don't exist on frames.head, and a single
      // toMap would silently collapse duplicate names across frames.
      // First-owner wins for a duplicated name (matching how an
      // unqualified column reference resolves).
      val m = scala.collection.mutable.Map[String, Long]()
      scope.frames.foreach { case (_, df) =>
        val owned = names.filter(df.columns.contains).filterNot(m.contains)
        if (owned.nonEmpty) {
          val counted = df.select(owned.map(n =>
            count(col(n)).as(n)): _*).head()
          owned.foreach(n => m(n) = counted.getAs[Long](n))
        }
      }
      m.apply _
    } else ColumnSetEval.stats.value
    ColumnSetEval.stats.withValue(countFn) {
      ce.where.foreach(w => names = names.filter(n => ColumnSetEval.evalBool(w, n)))
      if (ce.orderBy.nonEmpty) {
        // numeric sort keys order numerically (rowCount()), strings
        // lexicographically
        val ord = ce.orderBy.map { o =>
          (n: String) => ColumnSetEval.eval(o.e, n)
        }
        def lt(a: Any, b: Any): Int = (a, b) match {
          case (x: Long, y: Long) => x.compareTo(y)
          case (x, y) => String.valueOf(x).compareTo(String.valueOf(y))
        }
        names = names.sortWith { (x, y) =>
          ce.orderBy.zip(ord).collectFirst {
            case (o, k) if lt(k(x), k(y)) != 0 =>
              if (o.asc) lt(k(x), k(y)) < 0 else lt(k(x), k(y)) > 0
          }.getOrElse(false)
        }
      }
      ce.offset.foreach(o => names = names.drop(o.toInt))
      ce.limit.foreach(l => names = names.take(l.toInt))
      // `(SELECT <expr>)` value transform: value() reads the column
      // itself (MLDB-1933); plan-time substitution, per-row execution
      // full AST traversal (mirrors substitute()'s node coverage) so
      // value() nested under CASE / BETWEEN / IN / extraction /
      // row-array literals substitutes too
      def valueSubst(e: Expr, n: String): Expr = e match {
        case FnCall("value", Seq(), _) => Ident(Seq(n))
        case FnCall(f, as, st) => FnCall(f, as.map(valueSubst(_, n)), st)
        case FnApply(f, as, o) =>
          FnApply(f, as.map { case (k, v) => k -> valueSubst(v, n) }, o)
        case Binary(op, l, r) =>
          Binary(op, valueSubst(l, n), valueSubst(r, n))
        case Unary(op, x) => Unary(op, valueSubst(x, n))
        case CaseWhen(op, br, oe) => CaseWhen(op.map(valueSubst(_, n)),
          br.map(b => (valueSubst(b._1, n), valueSubst(b._2, n))),
          oe.map(valueSubst(_, n)))
        case CastExpr(x, t) => CastExpr(valueSubst(x, n), t)
        case Between(x, lo, hi, neg) => Between(valueSubst(x, n),
          valueSubst(lo, n), valueSubst(hi, n), neg)
        case InList(x, items, neg) =>
          InList(valueSubst(x, n), items.map(valueSubst(_, n)), neg)
        case IsNull(x, neg) => IsNull(valueSubst(x, n), neg)
        case IsType(x, t, neg) => IsType(valueSubst(x, n), t, neg)
        case InKeysOf(x, c, neg, k) =>
          InKeysOf(valueSubst(x, n), valueSubst(c, n), neg, k)
        case LikeExpr(x, p, neg) =>
          LikeExpr(valueSubst(x, n), valueSubst(p, n), neg)
        case Extract(x, k) => Extract(valueSubst(x, n), valueSubst(k, n))
        case ArrayLit(items) => ArrayLit(items.map(valueSubst(_, n)))
        case StructLit(fs) =>
          StructLit(fs.map { case (k, v) => k -> valueSubst(v, n) })
        case other => other
      }
      names.map { n =>
        // the reference 400s a NULL output name (MLDB-1779's
        // columnPathElement(1) over a one-element path)
        val outName = ce.as.map(a => ColumnSetEval.eval(a, n) match {
          case null => throw new IllegalArgumentException(
            "Cannot have a NULL column name")
          case v => String.valueOf(v)
        }).getOrElse(n)
        val c = ce.value match {
          case Some(v) => lowerExpr(scope, valueSubst(v, n))
          // leaf reference: a struct path reads via getField, a plain
          // (possibly dotted) column via its backticked name
          case None => byName.getOrElse(n, outCol(n))
        }
        c.as(outName)
      }
    }
  }

  // ---- aggregates ----------------------------------------------------------

  private val aggBaseNames = Set("count", "count_distinct", "sum", "avg",
    "min", "max", "string_agg", "earliest", "latest", "variance", "stddev",
    "likelihood_ratio", "pivot", "count_distinct_approx",
    "sum_distinct", "avg_distinct")
  /** aggregate-name predicate: any base aggregate, its vertical_ alias
    * (applies the aggregate over a row argument — same lowering in
    * wide mode), or its _distinct variant from `agg(DISTINCT x)`. */
  private def aggNames(n: String): Boolean =
    aggBaseNames(n) || (n.startsWith("vertical_") &&
      aggBaseNames(n.stripPrefix("vertical_")))

  private def isAggCall(e: Expr): Boolean = e match {
    case FnCall(n, _, _) => aggNames(n)
    case _ => false
  }

  /** A `{*}`-consuming call below GROUP BY that is not an aggregator
    * (MLDB-1491). Stars under an aggregate (`sum({*})`,
    * `min(earliest_timestamp({*}))` — the star feeds the aggregate's
    * row argument) are legal; a bare `temporal_earliest({*})` is not. */
  private def nonAggStarCall(e: Expr): Option[Expr] = {
    // a star argument fed DIRECTLY to the call (possibly through row
    // literals) — a star nested below ANOTHER call is that inner
    // call's business, judged on its own recursion step, so an
    // aggregate anywhere between the star and this call legalizes it
    // (`horizontal_sum(sum({*}))` is fine; `abs(temporal_earliest({*}))`
    // reports the inner temporal_earliest)
    def directStar(x: Expr): Boolean = x match {
      case Star(_, _, _) => true
      case StructLit(fs) => fs.exists(kv => kv._1 == "*" || directStar(kv._2))
      case _ => false
    }
    e match {
      case FnCall(n, _, _) if aggNames(n) => None
      case FnApply(n, _, _) if aggNames(n) => None
      case FnCall(_, as, _) if as.exists(directStar) => Some(e)
      case FnApply(_, as, _)
        if as.exists(kv => kv._1 == "*" || directStar(kv._2)) => Some(e)
      case FnCall(_, as, _) => as.flatMap(nonAggStarCall).headOption
      case FnApply(_, as, _) =>
        as.flatMap(kv => nonAggStarCall(kv._2)).headOption
      case Binary(_, l, r) =>
        nonAggStarCall(l).orElse(nonAggStarCall(r))
      case Unary(_, x) => nonAggStarCall(x)
      case CastExpr(x, _) => nonAggStarCall(x)
      // a star-consuming call hiding inside a row literal
      // (`horizontal_sum({a: temporal_earliest({*})})`) is still that
      // inner call's violation
      case StructLit(fs) =>
        fs.flatMap(kv => nonAggStarCall(kv._2)).headOption
      case Extract(x, k) =>
        nonAggStarCall(x).orElse(nonAggStarCall(k))
      case _ => None
    }
  }

  private def containsAgg(e: Expr): Boolean = e match {
    case FnCall(n, args, _) => aggNames(n) || args.exists(containsAgg)
    case FnApply(n, args, _) =>
      aggNames(n) || args.exists(kv => containsAgg(kv._2))
    case Binary(_, l, r) => containsAgg(l) || containsAgg(r)
    case Unary(_, x) => containsAgg(x)
    case CaseWhen(op, br, oe) =>
      op.exists(containsAgg) || br.exists(b => containsAgg(b._1) || containsAgg(b._2)) ||
        oe.exists(containsAgg)
    case CastExpr(x, _) => containsAgg(x)
    case Between(x, lo, hi, _) => Seq(x, lo, hi).exists(containsAgg)
    case InList(x, items, _) => containsAgg(x) || items.exists(containsAgg)
    case IsNull(x, _) => containsAgg(x)
    case IsType(x, _, _) => containsAgg(x)
    case InKeysOf(x, c, _, _) => containsAgg(x) || containsAgg(c)
    case LikeExpr(x, p, _) => containsAgg(x) || containsAgg(p)
    case ArrayLit(items) => items.exists(containsAgg)
    case StructLit(fs) => fs.exists(f => containsAgg(f._2))
    case _ => false
  }

  private def lowerAggCall(scope: Scope, f: FnCall): Column = f match {
    // reference arity validation (MLDB-1792: "function avg expected 1
    // argument, got 2") — the single-argument aggregate family
    case FnCall(n, args, false) if Set("avg", "sum", "min", "max",
        "variance", "stddev", "earliest", "latest")(n) && args.size != 1 =>
      throw new IllegalArgumentException(
        s"function $n expected 1 argument, got ${args.size}")
    case FnCall("count", _, true) => count(lit(1))
    case FnCall("count", args, _) => count(lowerExpr(scope, args.head))
    case FnCall("count_distinct", args, _) =>
      countDistinct(lowerExpr(scope, args.head), args.tail.map(lowerExpr(scope, _)): _*)
    case FnCall("sum_distinct", args, _) => sum_distinct(lowerExpr(scope, args.head))
    case FnCall("avg_distinct", args, _) =>
      sum_distinct(lowerExpr(scope, args.head)) /
        countDistinct(lowerExpr(scope, args.head))
    // beyond the reference (it only has the exact hash-set counter):
    // HLL++ sketch for the 100 TB path — fixed memory per group,
    // single pass, no distinct shuffle
    case FnCall("count_distinct_approx", args, _) =>
      approx_count_distinct(lowerExpr(scope, args.head))
    case FnCall("sum", args, _) => sum(lowerExpr(scope, args.head))
    case FnCall("avg", args, _) => avg(lowerExpr(scope, args.head))
    case FnCall("min", args, _) => min(lowerExpr(scope, args.head))
    case FnCall("max", args, _) => max(lowerExpr(scope, args.head))
    // sample variance; NO qualifying values (all-null / unknown column
    // / single row) reads NaN like the reference, not SQL NULL
    // (stddev_builtin_fct_test test_nan)
    case FnCall("variance", args, _) =>
      coalesce(var_samp(lowerExpr(scope, args.head)), lit(Double.NaN))
    case FnCall("stddev", args, _) =>
      coalesce(stddev_samp(lowerExpr(scope, args.head)), lit(Double.NaN))
    // likelihood_ratio(expr, outcome) (`builtin_aggregators.cc:947`):
    // add-one-smoothed log ratio of P(expr|outcome) / P(expr|¬outcome)
    case FnCall("likelihood_ratio", Seq(x, o), _) =>
      val xe = lowerExpr(scope, x).cast("boolean")
      val oe = lowerExpr(scope, o).cast("boolean")
      def cnt(c: Column) = sum(when(c, 1.0).otherwise(0.0))
      log(((cnt(xe && oe) + 1.0) / (cnt(oe) + 2.0)) /
        ((cnt(xe && !oe) + 1.0) / (cnt(!oe) + 2.0)))
    // pivot(name, value) (`builtin_aggregators.cc:1001`): build a row
    // (map) from the group's (name, value) pairs; names must be unique
    // per group, like the reference's row construction
    case FnCall("pivot", Seq(n, v), _) =>
      map_from_entries(array_distinct(collect_list(
        struct(lowerExpr(scope, n), lowerExpr(scope, v)))))
    case FnCall("string_agg", args, _) =>
      // Values are sorted for deterministic output (the reference's
      // aggregation order over a distributed scan is unspecified, so a
      // canonical order is the only reproducible choice).
      val sep = args.lift(1) match {
        case Some(StrLit(s)) => s
        case Some(other) => throw new IllegalArgumentException(
          s"string_agg separator must be a string literal, got $other")
        case None => ","
      }
      args.lift(2) match {
        case Some(orderKey) =>
          // explicit 3rd-arg sort key (MLDB-1554:
          // `string_agg(what, ', ', rowName())` concatenates in
          // rowName order) — collect (key, value) pairs, sort by key,
          // join the values
          val pairs = array_sort(collect_list(struct(
            lowerExpr(scope, orderKey).as("k"),
            lowerExpr(scope, args.head).cast("string").as("v"))))
          array_join(transform(pairs, p => p.getField("v")), sep)
        case None =>
          array_join(array_sort(collect_list(lowerExpr(scope, args.head))), sep)
      }
    case FnCall("earliest", args, _) =>
      if (scope.hasColumn("ts")) min_by(lowerExpr(scope, args.head), col("ts"))
      else min(lowerExpr(scope, args.head))
    case FnCall("latest", args, _) =>
      if (scope.hasColumn("ts")) max_by(lowerExpr(scope, args.head), col("ts"))
      else max(lowerExpr(scope, args.head))
    case FnCall(n, args, _) if n.startsWith("vertical_") =>
      lowerAggCall(scope, FnCall(n.stripPrefix("vertical_"), args))
    case other => throw new IllegalArgumentException(s"unknown aggregate $other")
  }

  /** Replace aggregate subtrees with references to precomputed agg
    * columns; collect the aggregates. `sum({a, b})` — an aggregate
    * applied to a row literal — expands per column to
    * `{a: sum(a), b: sum(b)}` first (the reference's RegisterAggregatorT
    * loop, `builtin_aggregators.cc:502-550`). */
  private def extractAggs(e: Expr, acc: scala.collection.mutable.LinkedHashMap[FnCall, String]): Expr = e match {
    case f @ FnCall(n, _, _) if aggNames(n) =>
      val name = acc.getOrElseUpdate(f, s"__agg${acc.size}")
      Ident(Seq(name))
    case FnCall(n, args, s) => FnCall(n, args.map(extractAggs(_, acc)), s)
    case FnApply(n, args, None) if aggNames(n) =>
      extractAggs(StructLit(args.map { case (k, v) => k -> FnCall(n, Seq(v)) }), acc)
    case FnApply(n, args, o) =>
      FnApply(n, args.map(kv => kv._1 -> extractAggs(kv._2, acc)), o)
    case StructLit(fs) =>
      StructLit(fs.map { case (k, v) => k -> extractAggs(v, acc) })
    case ArrayLit(items) => ArrayLit(items.map(extractAggs(_, acc)))
    case Binary(op, l, r) => Binary(op, extractAggs(l, acc), extractAggs(r, acc))
    case Unary(op, x) => Unary(op, extractAggs(x, acc))
    case CaseWhen(op, br, oe) => CaseWhen(op.map(extractAggs(_, acc)),
      br.map(b => (extractAggs(b._1, acc), extractAggs(b._2, acc))),
      oe.map(extractAggs(_, acc)))
    case CastExpr(x, t) => CastExpr(extractAggs(x, acc), t)
    case Between(x, lo, hi, n) =>
      Between(extractAggs(x, acc), extractAggs(lo, acc), extractAggs(hi, acc), n)
    case IsNull(x, n) => IsNull(extractAggs(x, acc), n)
    case IsType(x, t, n) => IsType(extractAggs(x, acc), t, n)
    case InKeysOf(x, c, n, k) =>
      InKeysOf(extractAggs(x, acc), extractAggs(c, acc), n, k)
    // descend into the probe (NOT the subquery — it has its own scope)
    // so `sum(x) IN (SELECT …)` registers its aggregate before the
    // grouped frame is built
    case InSelect(x, sub, n) => InSelect(extractAggs(x, acc), sub, n)
    // `pivot(k, v) AS *` expands to per-key extracts of the ONE
    // aggregate (MLDB-816)
    case Extract(x, k) => Extract(extractAggs(x, acc), k)
    case other => other
  }

  // ---- SELECT --------------------------------------------------------------

  /** Canonical surface text of an expression — the reference names an
    * un-aliased select item by printing it (column_name_test:
    * `SELECT 1 + 10` → column `1 + 10`, `SELECT {x:1}` → `{x:1}.x`
    * after flattening). Returns None for shapes with no stable
    * canonical print (they keep the `_cN` fallback). */
  private def exprText(e: Expr): Option[String] = e match {
    case NumLit(v, integral) =>
      Some(if (integral) v.toBigInt.toString else v.toString)
    case StrLit(s) => Some(s"'$s'")
    case BoolLit(b) => Some(b.toString)
    case NullLit() => Some("NULL")
    case Ident(parts) => Some(parts.mkString("."))
    case Binary(op, l, r) =>
      for (a <- exprText(l); b <- exprText(r)) yield s"$a $op $b"
    case Unary(op, x) => exprText(x).map(t => s"$op$t")
    case StructLit(Seq(("*", Star(Nil, "", None)))) => Some("{*}")
    case StructLit(fields) =>
      val fs = fields.map { case (k, v) => exprText(v).map(t => s"$k:$t") }
      if (fs.forall(_.isDefined)) Some(fs.flatten.mkString("{", ",", "}"))
      else None
    case Extract(x, Unary("__bracketstr", s: StrLit)) =>
      for (a <- exprText(x); b <- exprText(s)) yield s"$a[$b]"
    case Extract(x, k) =>
      for (a <- exprText(x); b <- exprText(k)) yield s"$a[$b]"
    case FnCall(n, args, _) =>
      // dispatch names are lowercase internally; camelCase builtins
      // print back canonically (`rowName()`, not `rowname()` — the
      // reference's surface, carried since r8 as a cosmetic gap)
      val canonical = Parser.camelFns.getOrElse(n, n)
      val as = args.map(exprText)
      if (as.forall(_.isDefined))
        Some(s"$canonical(${as.flatten.mkString(",")})")
      else None
    case FnApply(n, Seq(("*", Star(Nil, "", None))), _) =>
      // the row-argument apply form (`temporal_earliest({*})` —
      // MLDB-1491's error print)
      Some(s"${Parser.camelFns.getOrElse(n, n)}({*})")
    case FnApply(n, args, _) =>
      val fs = args.map { case (k, v) => exprText(v).map(t => s"$k: $t") }
      if (fs.forall(_.isDefined))
        Some(s"${Parser.camelFns.getOrElse(n, n)}" +
          s"({${fs.flatten.mkString(", ")}})")
      else None
    case _ => None
  }

  /** `rowNumber()` / `totalRows()` mentions in an expression
    * (row_number/total_rows_builtin_fct_test): both are legal ONLY in
    * SELECT expressions — any other clause raises the reference's
    * "function X is only available in SELECT expressions." */
  private def seqFnName(e: Expr): Option[String] = e match {
    case FnCall("rownumber", Nil, _) => Some("rowNumber")
    case FnCall("totalrows", Nil, _) => Some("totalRows")
    case FnCall(_, as, _) => as.flatMap(seqFnName).headOption
    case FnApply(_, as, _) => as.flatMap(kv => seqFnName(kv._2)).headOption
    case Binary(_, l, r) => seqFnName(l).orElse(seqFnName(r))
    case Unary(_, x) => seqFnName(x)
    case CaseWhen(op, br, oe) =>
      (op.toSeq ++ br.flatMap(b => Seq(b._1, b._2)) ++ oe.toSeq)
        .flatMap(seqFnName).headOption
    case CastExpr(x, _) => seqFnName(x)
    case Between(x, lo, hi, _) => Seq(x, lo, hi).flatMap(seqFnName).headOption
    case InList(x, items, _) => (x +: items).flatMap(seqFnName).headOption
    case IsNull(x, _) => seqFnName(x)
    case Extract(x, k) => seqFnName(x).orElse(seqFnName(k))
    case ArrayLit(items) => items.flatMap(seqFnName).headOption
    case StructLit(fs) => fs.flatMap(kv => seqFnName(kv._2)).headOption
    case _ => None
  }

  /** Replace rowNumber()/totalRows() with their hidden columns. */
  private def seqFnSubst(e: Expr): Expr = e match {
    case FnCall("rownumber", Nil, _) => Ident(Seq("__rowNumber"))
    case FnCall("totalrows", Nil, _) => Ident(Seq("__totalRows"))
    case FnCall(f, as, st) => FnCall(f, as.map(seqFnSubst), st)
    case FnApply(f, as, o) =>
      FnApply(f, as.map { case (k, v) => k -> seqFnSubst(v) }, o)
    case Binary(op, l, r) => Binary(op, seqFnSubst(l), seqFnSubst(r))
    case Unary(op, x) => Unary(op, seqFnSubst(x))
    case CaseWhen(op, br, oe) => CaseWhen(op.map(seqFnSubst),
      br.map(b => (seqFnSubst(b._1), seqFnSubst(b._2))), oe.map(seqFnSubst))
    case CastExpr(x, t) => CastExpr(seqFnSubst(x), t)
    case Between(x, lo, hi, neg) =>
      Between(seqFnSubst(x), seqFnSubst(lo), seqFnSubst(hi), neg)
    case InList(x, items, neg) =>
      InList(seqFnSubst(x), items.map(seqFnSubst), neg)
    case IsNull(x, neg) => IsNull(seqFnSubst(x), neg)
    case Extract(x, k) => Extract(seqFnSubst(x), seqFnSubst(k))
    case ArrayLit(items) => ArrayLit(items.map(seqFnSubst))
    case StructLit(fs) => StructLit(fs.map { case (k, v) => k -> seqFnSubst(v) })
    case other => other
  }

  private def itemName(item: SelectItem, idx: Int): String =
    item.alias.getOrElse(item.e match {
      // a qualified ident keeps its dotted surface form, like the
      // reference's join projections (MLDB-2040: `SELECT a.one` names
      // the output column `a.one`) — single-part idents stay bare
      case Ident(parts) => parts.mkString(".")
      // a row-star aggregate keeps its surface text so its per-column
      // expansion flattens to `sum({*}).colA` (MLDBFB-332)
      case FnApply(n, args, _) if args.exists(_._1 == "*") => s"$n({*})"
      // an un-aliased call is named by its full surface text —
      // `lower(b)` stays `lower(b)` (the reference's expression-print
      // naming; MLDB-1937's svd columns depend on it)
      case fc @ FnCall(n, _, _) => exprText(fc) match {
        case Some(t) => if (t.contains(".")) "\"" + t + "\"" else t
        case None => n
      }
      // un-aliased expressions keep their surface text, like the
      // reference's expression-print naming (column_name_test:
      // `SELECT 1 + 10` → `1 + 10`; where-without-dataset: `SELECT 1`
      // → `1`). A printed name containing a dot is ONE path element —
      // rendered double-quoted like the reference's Path printer
      // (`1 + 1.1` → `"1 + 1.1"`).
      case other => exprText(other) match {
        case Some(t) => if (t.contains(".")) "\"" + t + "\"" else t
        case None => s"_c$idx"
      }
    })

  /** col() for a literal output-column name (dots are NOT struct
    * accessors here — quote them). */
  private def outCol(name: String): Column =
    if (name.contains(".")) col(s"`$name`") else col(name)

  private def lowerSelect(ctx: Context, stmt0: Select): DataFrame = {
    // `SELECT {…} AS *` expands the row literal's fields into columns
    // (reference row-literal-as-star, e.g. MLDB-1736's
    // `select {x: 5} as *`). Dynamic (map-typed) AS * stays
    // unsupported in the typed engine — columns must be knowable at
    // plan time.
    // fixpoint: `{{*} as *} as *` (MLDB-832/1205) peels one literal
    // layer per pass
    @annotation.tailrec
    def expandLiteralStar(items: Seq[SelectItem]): Seq[SelectItem] = {
      val out = items.flatMap {
        case SelectItem(StructLit(fields), Some("*")) =>
          fields.map { case (n, e) => SelectItem(e, Some(n)) }
        case it => Seq(it)
      }
      if (out != items) expandLiteralStar(out) else out
    }
    // `SELECT a, a` keeps ONE column in the reference (a row has one
    // cell per name, MLDB-832) — exact duplicate items collapse
    val stmt1 = stmt0.copy(items = expandLiteralStar(stmt0.items).distinct)
    val (fromDf0, scope0) = stmt1.from match {
      case Some(t) => lowerTable(ctx, t)
      case None =>
        // reference validation (MLDB-1732): a wildcard has no row to
        // expand against without a FROM
        if (stmt1.items.exists(i => i.e.isInstanceOf[Star] ||
            i.e.isInstanceOf[ColumnExprStar]))
          throw new IllegalArgumentException(
            "Wildcard usage requires a FROM statement")
        val df = ctx.spark.range(1).toDF("__dummy")
        (df, Scope(Seq(None -> df)))
    }
    // DYNAMIC `expr AS *` — the reference's bag-of-words pivot
    // (`tokenize(…) AS *`, MLDB-907 test_in_transform) and
    // struct-returning function expansion (`useragent({…}) AS *`).
    // A typed engine needs the column set at plan time: struct fields
    // come from the analyzed schema; map keys come from one
    // distinct-keys pass over the data (capped like a schema — the
    // transpose bound). Runs BEFORE filters so key discovery sees the
    // same frame the projection will.
    val stmt = stmt1.copy(items = stmt1.items.flatMap {
      // `sum({*}) AS *` / `sum({x, y}) AS *` — an aggregate over a row
      // expands to one aliased aggregate per column BEFORE the generic
      // AS * (which would try to lower the un-grouped aggregate in row
      // scope). Reference per-column auto-application, MLDB-1594.
      case SelectItem(FnApply(n, args, None), Some("*")) if aggNames(n) =>
        val seen = scala.collection.mutable.LinkedHashSet[String]()
        val cols = scope0.allColumns.flatMap { case (_, c) =>
          if (c.equalsIgnoreCase("rowName") || c.startsWith("__") ||
              seen.contains(c.toLowerCase)) None
          else { seen += c.toLowerCase; Some(c) }
        }
        args.flatMap {
          // `sum({labels.* AS *}) AS *` (MLDB-2186): the prefix names a
          // container column — its fields (bag keys via the shared
          // plan-time pass) become one aggregate each
          case ("*", Star(excl, prefix, rename)) if prefix.nonEmpty =>
            val exclSet = excl.map(_.toLowerCase).toSet
            val base = prefix.stripSuffix(".")
            val dotted = cols.filter(_.startsWith(prefix))
            val fields: Seq[(String, Expr)] =
              if (dotted.nonEmpty)
                dotted.map(c => c.stripPrefix(prefix) ->
                  (Ident(Seq(c)): Expr))
              else rowFieldsOf(scope0, Ident(Seq(base))).getOrElse(
                throw new IllegalArgumentException(
                  s"$prefix* matched no columns")).map { case (f, _) =>
                f -> (Extract(Ident(Seq(base)), StrLit(f)): Expr)
              }
            fields.filterNot(f => exclSet(f._1.toLowerCase)).map {
              case (f, ex) =>
                val out = rename.map(_ + f).getOrElse(prefix + f)
                SelectItem(FnCall(n, Seq(ex)), Some(out))
            }
          case ("*", Star(_, _, _)) =>
            cols.map(c => SelectItem(FnCall(n, Seq(Ident(Seq(c)))), Some(c)))
          case (k, v) => Seq(SelectItem(FnCall(n, Seq(v)), Some(k)))
        }
      // a Star that surfaced from literal expansion (`{*} as *`) is
      // already a plain wildcard item — not a dynamic AS *
      case SelectItem(s: Star, Some("*")) => Seq(SelectItem(s, None))
      // `pivot(k, v) AS *` (MLDB-816): one column per distinct key —
      // the key set comes from a capped plan-time distinct pass (the
      // dynamic AS * contract), each key read out of the pivot map
      // post-aggregation
      case SelectItem(f @ FnCall("pivot", Seq(k, _), _), Some("*")) =>
        PlanTime.keys(fromDf0, lowerExpr(scope0, k), "pivot AS *")
          .map(key => SelectItem(Extract(f, StrLit(key)), Some(key)))
      // `sum(<row-expr>) AS *` over a NON-literal row argument
      // (MLDB-1322 `sum(stem({words: …})[words]) as *`): the argument
      // row's fields resolve at plan time; one aggregate per field
      case SelectItem(FnCall(n, Seq(arg), st), Some("*"))
          if aggNames(n) && !arg.isInstanceOf[StructLit] =>
        rowFieldsOf(scope0, arg) match {
          case Some(fields) => fields.map { case (f, _) =>
            SelectItem(FnCall(n, Seq(Extract(arg, StrLit(f))), st), Some(f))
          }
          case None => throw new IllegalArgumentException(
            s"$n(…) AS * needs a row-valued argument")
        }
      case SelectItem(e, Some("*")) =>
        val c = lowerExpr(scope0, e)
        fromDf0.select(c.as("__asstar")).schema.head.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            // arrays:'parse' default: an ARRAY field expands to the
            // reference's NUMBERED sub-paths (`friends.0.name` —
            // MLDB-1779), its width from one capped plan-time pass
            st.fields.toSeq.flatMap { f =>
              f.dataType match {
                case _: org.apache.spark.sql.types.ArrayType =>
                  val len = PlanTime.maxArrayLen(fromDf0,
                    c.getField(f.name), "AS * array field")
                  (0 until len).map(i => SelectItem(
                    Extract(Extract(e, StrLit(f.name)),
                      NumLit(BigDecimal(i), isIntegral = true)),
                    Some(s"${f.name}.$i")))
                case _ =>
                  Seq(SelectItem(Extract(e, StrLit(f.name)), Some(f.name)))
              }
            }
          case _: org.apache.spark.sql.types.MapType =>
            PlanTime.keys(
              fromDf0.select(explode(map_keys(c)).as("__k")),
              col("__k"), "AS *")
              .map(k => SelectItem(Extract(e, StrLit(k)), Some(k)))
          // `jseval(...) AS *` (MLDB-704): the script's object comes
          // back as a JSON string — infer its schema with a capped
          // pass (the parse_json options-form contract) and expand
          case org.apache.spark.sql.types.StringType
              if e.isInstanceOf[FnCall] &&
                e.asInstanceOf[FnCall].name == "jseval" =>
            val schema = PlanTime.jsonSchema(fromDf0, c, "jseval AS *")
            val ddl = org.apache.spark.sql.types.StructType(schema).toDDL
            schema.map(f => SelectItem(
              Extract(FnCall("parse_json", Seq(e, StrLit(ddl))),
                StrLit(f.name)), Some(f.name)))
          // a TOP-LEVEL embedding expands to numbered columns 0..n-1
          // (MLDB-1694: `flatten(…[softmax]) as *` names its columns
          // by the dimension index alone); NESTED embeddings recurse
          // with dotted indices (`[[1,2],[3,4]] as *` → 0.0, 0.1,
          // 1.0, 1.1 — MLDB-1317's tensor naming)
          case at: org.apache.spark.sql.types.ArrayType =>
            def expand(e2: Expr, c2: Column,
                dt: org.apache.spark.sql.types.DataType,
                prefix: String): Seq[SelectItem] = dt match {
              case a2: org.apache.spark.sql.types.ArrayType =>
                val len = PlanTime.maxArrayLen(fromDf0, c2, "AS * embedding")
                (0 until len).flatMap { i =>
                  val name = if (prefix.isEmpty) i.toString
                             else s"$prefix.$i"
                  expand(Extract(e2, NumLit(BigDecimal(i),
                    isIntegral = true)), c2.getItem(i), a2.elementType,
                    name)
                }
              case _ => Seq(SelectItem(e2, Some(prefix)))
            }
            expand(e, c, at, "")
          case other => throw new IllegalArgumentException(
            s"AS * requires a row-valued expression (got $other)")
        }
      case it => Seq(it)
    })
    val fromDf = fromDf0
    val scope = scope0

    // rowNumber()/totalRows() are SELECT-expression-only — the
    // reference rejects them in WHERE/ORDER BY/GROUP BY/NAMED/HAVING
    // (row_number/total_rows_builtin_fct_test error batteries). An
    // alias bound to a seqFn item counts too: `SELECT rowNumber() AS n
    // … ORDER BY n` smuggles the call through an Ident.
    val seqAliases: Map[String, String] = stmt.items.flatMap {
      case SelectItem(e, Some(a))
          if !e.isInstanceOf[Star] && !e.isInstanceOf[ColumnExprStar] =>
        seqFnName(e).map(a -> _)
      case _ => None
    }.toMap
    (stmt.where.toSeq ++ stmt.when.toSeq ++ stmt.groupBy ++
      stmt.having.toSeq ++ stmt.orderBy.map(_.e) ++ stmt.distinctOn ++
      stmt.named.toSeq).flatMap(e => seqFnName(e).orElse(e match {
        case Ident(Seq(n)) => seqAliases.get(n)
        case _ => None
      })).headOption.foreach { fn =>
      throw new IllegalArgumentException(
        s"function $fn is only available in SELECT expressions.")
    }

    // WHERE then WHEN (both row filters in wide mode). Top-level
    // `x IN (SELECT …)` conjuncts become semi-joins (the reference
    // materializes the subquery, `sql_expression_operations.h:285-330`;
    // a semi-join is the distributed equivalent), NOT IN → anti-join;
    // InSelects NESTED inside a conjunct (OR branches, CASE, WHEN)
    // evaluate through tri-logic marker columns.
    val filtered0 = stmt.where match {
      case Some(w) => applyFilter(ctx, scope, fromDf, w)
      case None => fromDf
    }
    val filtered = stmt.when.map(w => applyFilter(ctx, scope, filtered0, w))
      .getOrElse(filtered0)

    // GROUP BY may reference select aliases (GROUP BY bucket): rewrite
    // such idents to the aliased expression before lowering
    val aliasMap: Map[String, Expr] = stmt.items.collect {
      case SelectItem(e, Some(a)) if !e.isInstanceOf[Star] => a -> e
    }.toMap
    val stmtG = stmt.copy(groupBy = stmt.groupBy.map {
      case Ident(Seq(n)) if aliasMap.contains(n) => aliasMap(n)
      case g => g
    })
    val isAggregated = stmtG.groupBy.nonEmpty ||
      stmtG.items.exists(i => containsAgg(i.e)) || stmtG.having.exists(containsAgg)

    val projected: DataFrame = if (!isAggregated) {
      var out = filtered
      // NAMED → rowName column; a NULL name is a runtime error like
      // the reference's (MLDBFB-345) — checked in-row, zero extra passes
      stmt.named.foreach { n =>
        val c = lowerExpr(scope, n)
        // an ARRAY-valued name is a structured multi-element path
        // (MLDB-1810: `named ['hello', 'world']` → hello.world); a
        // string is ONE element, quoted when it holds dots/quotes
        val printed = resolvedTypeOf(Scope(scope.frames :+ (None -> out)), c)
          match {
          case Some(_: org.apache.spark.sql.types.ArrayType) =>
            P.stringifyPath(c.cast("array<string>"))
          case _ => pathPrintElement(c.cast("string"))
        }
        out = out.withColumn("rowName",
          when(c.isNull,
            raise_error(lit("Can't create a row with a null name")))
            .otherwise(printed))
      }
      // `x IN (SELECT …)` as a VALUE — in a projection, CASE, ORDER BY
      // or the DISTINCT ON key (reference allows a sub-select anywhere
      // an expression goes, `sql_expression_operations.h:285-330`):
      // precompute a boolean column per subquery via a distinct-marker
      // left join (the subquery result is typically small → broadcasts;
      // full SQL tri-logic — see addInSelectMarker).
      val inSelMap = scala.collection.mutable.LinkedHashMap[InSelect, String]()
      val itemsNoSub = stmt.items.map { it =>
        if (it.e.isInstanceOf[Star] || it.e.isInstanceOf[ColumnExprStar]) it
        else it.copy(e = extractInSelects(it.e, inSelMap))
      }
      val orderByNoSub = stmt.orderBy.map(o =>
        o.copy(e = extractInSelects(o.e, inSelMap)))
      val distinctOnNoSub = stmt.distinctOn.map(extractInSelects(_, inSelMap))
      inSelMap.foreach { case (is, name) =>
        out = addInSelectMarker(ctx, scope, out, is, name)
      }
      // rowNumber()/totalRows() in the select list: hidden columns on
      // the post-WHERE frame. rowNumber numbers the ORDER BY stream
      // (1-based, before OFFSET/LIMIT) WITHOUT a single-partition
      // window: sort (range-partitioned), pin, count per partition
      // (one #partitions-sized collect), then number each row as its
      // partition's prefix offset + its index within the partition —
      // the same global numbering, computed with every partition in
      // parallel. totalRows is a plan-time pushed-down count of the
      // post-WHERE frame (no single-partition window for a scalar).
      val seqUsed: Set[String] = itemsNoSub.flatMap(it =>
        if (it.e.isInstanceOf[Star] || it.e.isInstanceOf[ColumnExprStar]) None
        else seqFnName(it.e)).toSet
      val itemsSeq =
        if (seqUsed.isEmpty) itemsNoSub
        else itemsNoSub.map { it =>
          if (it.e.isInstanceOf[Star] || it.e.isInstanceOf[ColumnExprStar]) it
          else it.copy(e = seqFnSubst(it.e))
        }
      if (seqUsed("rowNumber")) {
        val baseScope = Scope(scope.frames :+ (None -> out))
        val aliasEx: Map[String, Expr] = itemsNoSub.collect {
          case SelectItem(e, Some(a))
              if !e.isInstanceOf[Star] && seqFnName(e).isEmpty => a -> e
        }.toMap
        val ordered =
          if (stmt.orderBy.nonEmpty)
            out.orderBy(stmt.orderBy.map { o =>
              val c = o.e match {
                case Ident(Seq(n)) if aliasEx.contains(n) =>
                  lowerExpr(baseScope, aliasEx(n))
                case other => lowerExpr(baseScope, other)
              }
              if (o.asc) c.asc else c.desc
            }: _*)
          else out
        // monotonically_increasing_id encodes (partition << 33 | index
        // within partition); after the range-partitioned sort the
        // partitions are globally ordered, so prefix-summing the
        // per-partition counts gives each row offset + index + 1 — the
        // exact global row_number, no SinglePartition exchange. The
        // frame is pinned so the count job and the output job see the
        // same rows; the collect is #partitions-sized.
        val withMid = graft.core.DfOps.cut(ordered
          .withColumn("__seqMid", monotonically_increasing_id()))
        val counts = withMid
          .groupBy(shiftrightunsigned(col("__seqMid"), 33).as("__pid"))
          .agg(count(lit(1)).as("__n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        var seqAcc = 0L
        val offsets = counts.map { case (pid, n) =>
          val o = seqAcc; seqAcc += n; (pid, o)
        }
        val offExpr =
          if (offsets.isEmpty) lit(0L)
          else element_at(
            map(offsets.flatMap { case (p, o) =>
              Seq(lit(p), lit(o))
            }.toSeq: _*),
            shiftrightunsigned(col("__seqMid"), 33))
        out = withMid.withColumn("__rowNumber",
          (col("__seqMid").bitwiseAND(lit((1L << 33) - 1)) + offExpr +
            lit(1L)).cast("long"))
          .drop("__seqMid")
      }
      if (seqUsed("totalRows"))
        out = out.withColumn("__totalRows", lit(filtered.count()))
      val stmtItems = itemsSeq
      val namedScope = Scope(scope.frames :+ (None -> out))
      // materialize every non-star item as a column BEFORE sorting so
      // ORDER BY can reference select aliases; stars expand at the
      // final select
      // (names come from the PRE-substitution items so an un-aliased
      // rowNumber() isn't named after its hidden column)
      val plainItems: Seq[(String, Expr)] = stmtItems.zipWithIndex.collect {
        case (it @ SelectItem(e, _), i)
            if !e.isInstanceOf[Star] && !e.isInstanceOf[ColumnExprStar] =>
          itemName(itemsNoSub(i), i) -> e
      }
      var extended = out
      plainItems.foreach { case (n, e) =>
        extended = extended.withColumn(n, lowerExpr(namedScope, e))
      }
      val extScope = Scope(scope.frames :+ (None -> extended))
      def sortCols = orderByNoSub.map { o =>
        def c0 = o.e match {
          case Ident(Seq(n)) if plainItems.exists(_._1 == n) => col(n)
          case other => lowerExpr(extScope, other)
        }
        // ORDER BY a bag sorts by its entry list; mixed-type or
        // row-valued CASE keys sort by the canonical sort-key struct
        // (MLDB-989 — reference total order NULL < atom < row <
        // embedding); a row-typed key sorts by its sorted
        // (path, cell) entries, not Spark's declared field order
        val c = o.e match {
          case _ if bagShaped(extScope, o.e) => bagEntries(c0)
          case cw: CaseWhen if mixedTypeShaped(extScope, cw) =>
            mixedCaseSortKey(extScope, cw)
          case _ =>
            val lowered = c0
            resolvedTypeOf(extScope, lowered) match {
              case Some(st: org.apache.spark.sql.types.StructType) =>
                sortKeyFor(lowered, st)
              case _ => lowered
            }
        }
        if (o.asc) c.asc else c.desc
      }
      val sorted =
        if (orderByNoSub.nonEmpty) extended.orderBy(sortCols: _*) else extended
      val distincted =
        if (distinctOnNoSub.nonEmpty) {
          val keys = distinctOnNoSub
          if (orderByNoSub.isEmpty)
            throw new IllegalArgumentException("DISTINCT ON requires ORDER BY")
          // reference validation (`sql_expression.cc:3087-3100`): the
          // DISTINCT ON expressions must be the leftmost ORDER BY keys
          // in order, otherwise "first row per key" is ill-defined.
          // (Both sides are compared AFTER InSelect extraction, so a
          // sub-select in a key matches its ORDER BY twin structurally.)
          if (orderByNoSub.size < keys.size ||
              orderByNoSub.take(keys.size).map(_.e) != keys)
            throw new IllegalArgumentException(
              "DISTINCT ON (x) requires ORDER BY to start with x")
          val w = Window.partitionBy(keys.map(lowerExpr(extScope, _)): _*)
            .orderBy(sortCols: _*)
          // re-sort after the window filter: the partitioned window
          // destroys the global ORDER BY order, and OFFSET/LIMIT apply
          // to the ordered stream (MLDB-1841 test_distincton_offset)
          sorted.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
            .orderBy(sortCols: _*)
        } else sorted
      val cols: Seq[Column] = stmtItems.zipWithIndex.flatMap {
        case (SelectItem(ce: ColumnExprStar, _), _) =>
          expandColumnExpr(scope, ce)
        case (SelectItem(Star(excl, prefix, rename), _), _) =>
          // NAMED replaces the row name — the star must not re-emit
          // the ORIGINAL rowName beside it (MLDB-1950
          // `SELECT * NAMED 'name'`)
          expandStarCols(scope, excl, prefix, rename,
            skipRowName = stmt.named.isDefined)
        case (_, i) => Seq(outCol(itemName(itemsNoSub(i), i)))
      }
      // implicit row-name passthrough (MLDB-409): every reference row
      // keeps its name through an explicit select list (`SELECT x,y,z,q
      // FROM transformed` still renders _rowName). A source frame that
      // carries a rowName column forwards it unless NAMED replaced it,
      // a star already re-emitted it, or an item shadows the name.
      val outNames = stmtItems.zipWithIndex.collect {
        case (SelectItem(e, _), i)
            if !e.isInstanceOf[Star] && !e.isInstanceOf[ColumnExprStar] =>
          itemName(itemsNoSub(i), i)
      }
      // (COLUMN EXPR items do NOT suppress the passthrough — their
      // column set never includes the row name, yet the reference
      // keeps it: MLDB-1779 renders _rowName result)
      val hasStarItem = stmtItems.exists(it => it.e.isInstanceOf[Star])
      val withName = stmt.named match {
        case Some(_) => col("rowName") +: cols
        case None if !hasStarItem &&
            !stmt.from.exists(_.isInstanceOf[JoinExpr]) &&
            distincted.columns.count(_.equalsIgnoreCase("rowName")) == 1 &&
            !outNames.exists(_.equalsIgnoreCase("rowName")) =>
          // (JOINs are excluded: each side carries its own rowName —
          // the composed [l]-[r] name is built only when the query
          // asks for rowName() explicitly). Metadata marks the column
          // as implicitly carried (vs NAMED/star-selected).
          col("rowName").as("rowName", implicitRowNameMd) +: cols
        case None => cols
      }
      distincted.select(withName: _*)
    } else {
      // aggregate path: group keys + extracted aggregates, then outer exprs
      // reference validation (MLDB-1713): a wildcard projection is
      // meaningless under GROUP BY
      if (stmt.items.exists(i => i.e.isInstanceOf[Star] ||
          i.e.isInstanceOf[ColumnExprStar]))
        throw new IllegalArgumentException(
          "Wildcard cannot be used with GROUP BY")
      // a star-consuming call that is NOT an aggregator cannot run
      // below GROUP BY (MLDB-1491: temporal_earliest({*}) — the
      // reference names the offending print text)
      stmt.items.foreach { i =>
        nonAggStarCall(i.e).foreach { bad =>
          throw new IllegalArgumentException(
            s"Non-aggregator '${exprText(bad).getOrElse("?")}' with " +
              "GROUP BY clause is not allowed")
        }
      }
      val aggMap = scala.collection.mutable.LinkedHashMap[FnCall, String]()
      // post-aggregation value positions for IN (SELECT …): projection
      // items and HAVING get tri-logic markers joined onto the grouped
      // frame (the probe may be a group key or an extracted aggregate);
      // extractAggs runs FIRST so `sum(x) IN (SELECT …)` probes the
      // aggregate's output column
      val valInSel = scala.collection.mutable.LinkedHashMap[InSelect, String]()
      // `sum({*})` — a row-argument aggregate over the whole row
      // expands to one aggregate per scope column before extraction
      // (the reference's per-column auto-application,
      // `builtin_aggregators.cc:502-550`, with the {*} row)
      lazy val rowStarCols: Seq[String] = {
        val seen = scala.collection.mutable.LinkedHashSet[String]()
        scope.allColumns.flatMap { case (_, c) =>
          if (c.equalsIgnoreCase("rowName") || c.startsWith("__") ||
              seen.contains(c.toLowerCase)) None
          else { seen += c.toLowerCase; Some(c) }
        }
      }
      def expandAggRowStar(e: Expr): Expr = e match {
        case FnApply(n, args, o) if aggNames(n) && args.exists(_._1 == "*") =>
          FnApply(n, args.flatMap {
            case ("*", Star(excl, prefix, rename)) if prefix.nonEmpty =>
              // `sum({labels.* AS *})` (MLDB-2186): the prefix names a
              // container column — its fields (bag keys via the shared
              // plan-time pass) become one aggregate each, renamed by
              // stripping/replacing the prefix
              val exclSet = excl.map(_.toLowerCase).toSet
              val base = prefix.stripSuffix(".")
              val dotted = scope.allColumns.map(_._2)
                .filter(_.startsWith(prefix)).distinct
              val fields: Seq[(String, Expr)] =
                if (dotted.nonEmpty)
                  dotted.map(c => c.stripPrefix(prefix) ->
                    (Ident(Seq(c)): Expr))
                else rowFieldsOf(scope, Ident(Seq(base))).getOrElse(
                  throw new IllegalArgumentException(
                    s"$prefix* matched no columns")).map { case (f, _) =>
                  f -> (Extract(Ident(Seq(base)), StrLit(f)): Expr)
                }
              fields.filterNot(f => exclSet(f._1.toLowerCase)).map {
                case (f, ex) =>
                  (rename.map(_ + f).getOrElse(prefix + f)) -> ex
              }
            case ("*", Star(_, _, _)) =>
              rowStarCols.map(c => c -> (Ident(Seq(c)): Expr))
            case kv => Seq(kv)
          }, o)
        case FnApply(n, args, o) =>
          FnApply(n, args.map(kv => kv._1 -> expandAggRowStar(kv._2)), o)
        case FnCall(n, args, st) => FnCall(n, args.map(expandAggRowStar), st)
        case StructLit(fs) =>
          StructLit(fs.map { case (k, v) => k -> expandAggRowStar(v) })
        case Binary(op, l, r) =>
          Binary(op, expandAggRowStar(l), expandAggRowStar(r))
        case Unary(op, x) => Unary(op, expandAggRowStar(x))
        case other => other
      }
      val rewrittenItems = stmt.items.map(i =>
        i.copy(e = extractInSelects(extractAggs(expandAggRowStar(i.e), aggMap), valInSel)))
      val rewrittenHaving = stmt.having.map(h =>
        extractInSelects(extractAggs(expandAggRowStar(h), aggMap), valInSel))
      // NAMED / ORDER BY / DISTINCT ON may carry aggregates of their
      // own — register them BEFORE the grouped frame is built so their
      // extracted columns exist (results re-derived below; getOrElse-
      // Update keeps the names stable)
      val rewrittenNamed = stmt.named.map(n =>
        extractAggs(expandAggRowStar(n), aggMap))
      stmt.orderBy.foreach(o => extractAggs(expandAggRowStar(o.e), aggMap))
      stmt.distinctOn.foreach(k => extractAggs(expandAggRowStar(k), aggMap))
      val keyCols = stmtG.groupBy.zipWithIndex.map { case (g, i) =>
        lowerExpr(scope, g).as(s"__key$i")
      }
      val aggCols0 = aggMap.map { case (f, n) => lowerAggCall(scope, f).as(n) }.toSeq
      // GROUP BY with no aggregates in the projection is legal in the
      // reference (MLDB-2111: `SELECT x+1 … GROUP BY x+1`) — group on
      // the keys alone via a hidden count that never reaches the output
      val aggCols =
        if (aggCols0.nonEmpty) aggCols0
        else Seq(count(lit(1)).as("__gcnt"))
      val grouped = filtered.groupBy(keyCols: _*)
        .agg(aggCols.head, aggCols.tail: _*)
      // outer scope: keys referenced via their original expression
      // ASTs, with idents CANONICALIZED so `"q.r"."a.b"`, `a.b` and
      // `"a.b"` all name the same key (MLDB-835's alias-qualified
      // GROUP BY references)
      def canonIdent(e: Expr): Expr = e match {
        case Ident(parts) if parts.nonEmpty =>
          val flatAll = parts.mkString(".")
          if (scope.hasColumn(flatAll)) Ident(Seq(flatAll))
          else (1 until parts.length).iterator.map { k =>
            (parts.take(k).mkString("."), parts.drop(k).mkString("."))
          }.collectFirst {
            case (al, rest) if scope.frames.exists(
                _._1.exists(_.equalsIgnoreCase(al))) &&
                scope.hasColumn(rest) => Ident(Seq(rest))
          }.getOrElse(e)
        case other => other
      }
      val keyLookup: Map[Expr, Column] = stmtG.groupBy.zipWithIndex.map {
        case (g, i) => (canonIdent(g), col(s"__key$i"))
      }.toMap
      // the GROUP's row name: `[k1,k2]` over the key values, strings
      // JSON-quoted — the reference's group-row naming
      // (MLDB-2111 test_groupby_rowname: `["0"]`, multi-key `[2,4]`)
      val groupRowName: Column = {
        val keyTypes = stmtG.groupBy.indices.map(i =>
          grouped.schema(s"__key$i").dataType)
        val rendered = stmtG.groupBy.indices.map { i =>
          val k = col(s"__key$i")
          val body = keyTypes(i) match {
            case org.apache.spark.sql.types.StringType |
                 org.apache.spark.sql.types.TimestampType =>
              concat(lit("\""),
                regexp_replace(regexp_replace(k.cast("string"),
                  lit("\\\\"), lit("\\\\\\\\")), lit("\""), lit("\\\\\"")),
                lit("\""))
            case _ => k.cast("string")
          }
          when(k.isNull, lit("null")).otherwise(body)
        }
        val inner = concat(lit("[") +: (if (rendered.isEmpty) Seq(lit(""))
          else rendered.init.flatMap(c => Seq(c, lit(","))) :+ rendered.last)
          :+ lit("]"): _*)
        // the FLAT name is the reference's Path print: an element
        // containing quotes renders CSV-style, doubled and wrapped
        // (MLDB-2111 test_groupby_rowname pins `"[""0""]"` for the
        // string key "0"; integer keys stay raw `[2]`)
        when(inner.contains(lit("\"")),
          concat(lit("\""),
            regexp_replace(inner, lit("\""), lit("\"\"")), lit("\"")))
          .otherwise(inner)
      }
      val outScope = Scope(Seq(None -> grouped))
      // tri-logic markers for IN (SELECT …) inside post-aggregation
      // ORDER BY expressions; populated below, before sortCols lowers
      val aggInSel = scala.collection.mutable.LinkedHashMap[InSelect, String]()
      def lowerOuter(e: Expr): Column = e match {
        // post-aggregation rowName()/rowHash() are the GROUP row's,
        // not the key's — even when rowName() is itself a group key
        case FnCall("rowname", Nil, _) => groupRowName
        case FnCall("rowhash", Nil, _) => xxhash64(groupRowName)
        // `group_key_element(n)` — the nth GROUP BY key value
        // (MLDB-809: NAMED group_key_element(0))
        case FnCall("group_key_element", Seq(NumLit(i, true)), _) =>
          val idx = i.toInt
          if (idx < 0 || idx >= stmtG.groupBy.size)
            throw new IllegalArgumentException(
              s"group_key_element($idx): query has ${stmtG.groupBy.size} " +
                "group keys")
          col(s"__key$idx")
        case _ => keyLookup.get(canonIdent(e)) match {
        case Some(c) => c
        case None => e match {
          case Ident(Seq(n)) if aggMap.values.exists(_ == n) ||
            aggInSel.values.exists(_ == n) ||
            valInSel.values.exists(_ == n) => col(n)
          case Ident(Seq(n)) =>
            // reference validation (MLDB-2111 test_groupby_inexact):
            // a bare variable below an aggregate must be a group key
            throw new IllegalArgumentException(
              s"variable '$n' must appear in the GROUP BY clause or " +
                "be used in an aggregate function")
          // reference binaryPlus: a string on either side concatenates
          // (`sql_expression_operations.cc:968-974`; MLDB-409's
          // NAMED rowName() + '_transformed' over GROUP BY)
          case Binary("+", l, r) if outerStringShaped(l) || outerStringShaped(r) =>
            concat(lowerOuter(l).cast("string"), lowerOuter(r).cast("string"))
          case Binary(op, l, r) => binaryOp(op, lowerOuter(l), lowerOuter(r))
          case Unary("-", x) => -lowerOuter(x)
          case Unary("not", x) => !lowerOuter(x)
          case FnCall(n, args, s) =>
            lowerFn(outScope, n, args.map(lowerOuter), s, args)
          case CastExpr(x, t) => lowerOuter(x).cast(sparkType(t))
          case Between(x, lo, hi, neg) =>
            val c = lowerOuter(x).between(lowerOuter(lo), lowerOuter(hi))
            if (neg) !c else c
          case IsNull(x, neg) =>
            if (neg) lowerOuter(x).isNotNull else lowerOuter(x).isNull
          case CaseWhen(op, br, oe) =>
            require(op.isEmpty, "searched CASE only after aggregation")
            val first = when(lowerOuter(br.head._1), lowerOuter(br.head._2))
            val chained = br.tail.foldLeft(first) { case (acc, (c, v)) =>
              acc.when(lowerOuter(c), lowerOuter(v))
            }
            oe.map(o => chained.otherwise(lowerOuter(o))).getOrElse(chained)
          case other => lowerExpr(outScope, other)
        }
      }
      }
      // join the projection/HAVING markers onto the grouped frame; the
      // probe lowers through lowerOuter (group keys by original AST,
      // aggregates by extracted name). The final projection drops them.
      var groupedM = grouped
      valInSel.foreach { case (is, name) =>
        groupedM = addInSelectMarkerCol(ctx, groupedM,
          lowerOuter(extractAggs(is.e, aggMap)), is, name)
      }
      val havingFiltered = rewrittenHaving match {
        case Some(h) => groupedM.filter(lowerOuter(h))
        case None => groupedM
      }
      val outCols = rewrittenItems.zipWithIndex.map { case (it, i) =>
        lowerOuter(it.e).as(itemName(stmt.items(i), i))
      }
      // NAMED in the aggregate path — a rowName column ahead of the
      // projection, like the non-agg path (MLDB-2111 test_groupby_named).
      // Without NAMED, a named-rows source (it carries a rowName
      // column) keeps the reference's DEFAULT group row name `[keys]`
      // (MLDBFB-332: `[]` for a whole-table aggregate, `[1]` for
      // GROUP BY 1) — plain tabular sources stay name-free so ANSI
      // aggregation output shapes are unchanged.
      val outItemNames = rewrittenItems.zipWithIndex.map { case (_, i) =>
        itemName(stmt.items(i), i)
      }
      val namedPrefix = rewrittenNamed match {
        case Some(n) =>
          Seq(pathPrintElement(lowerOuter(n).cast("string")).as("rowName"))
        case None
            if !stmt.from.exists(_.isInstanceOf[JoinExpr]) &&
              filtered.columns.count(_.equalsIgnoreCase("rowName")) == 1 &&
              !outItemNames.exists(_.equalsIgnoreCase("rowName")) =>
          Seq(groupRowName.as("rowName", implicitRowNameMd))
        case None => Seq.empty
      }
      if (stmt.distinctOn.nonEmpty) {
          val keys = stmt.distinctOn
          // DISTINCT ON over a grouped projection (MLDB-1841
          // test_distincton_groupby*): keep the first row per key in
          // ORDER BY order. The key and sort expressions materialize
          // as hidden columns at projection time (output aliases
          // resolve to their item expression; everything else lowers
          // against the grouped frame), then the same window-filter +
          // re-sort as the row path.
          if (stmt.orderBy.isEmpty)
            throw new IllegalArgumentException("DISTINCT ON requires ORDER BY")
          if (stmt.orderBy.size < keys.size ||
              stmt.orderBy.take(keys.size).map(_.e) != keys)
            throw new IllegalArgumentException(
              "DISTINCT ON (x) requires ORDER BY to start with x")
          val aliasToExpr: Map[String, Expr] = rewrittenItems.zipWithIndex.map {
            case (it, i) => itemName(stmt.items(i), i) -> it.e
          }.toMap
          def postExpr(e: Expr): Expr = e match {
            case Ident(Seq(n)) if aliasToExpr.contains(n) => aliasToExpr(n)
            case other => extractAggs(expandAggRowStar(other), aggMap)
          }
          val hidden = stmt.orderBy.zipWithIndex.map { case (o, i) =>
            lowerOuter(postExpr(o.e)).as(s"__sort$i")
          }
          val selected2 = havingFiltered.select(
            namedPrefix ++ outCols ++ hidden: _*)
          val sortCols = stmt.orderBy.zipWithIndex.map { case (o, i) =>
            if (o.asc) col(s"__sort$i").asc else col(s"__sort$i").desc
          }
          val w = Window
            .partitionBy(keys.indices.map(i => col(s"__sort$i")): _*)
            .orderBy(sortCols: _*)
          selected2.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .orderBy(sortCols: _*)
            .drop(stmt.orderBy.indices.map(i => s"__sort$i") :+ "__rn": _*)
      } else {
          val selected = havingFiltered.select(namedPrefix ++ outCols: _*)
          // `x [NOT] IN (SELECT …)` works anywhere in a post-aggregation
          // ORDER BY expression — whole key or nested inside CASE/boolean
          // arithmetic — via tri-logic markers joined onto the aggregated
          // projection (x may reference output columns); lowerOuter
          // resolves the marker idents against sortBase.
          val orderByAgg = stmt.orderBy.map(o =>
            o.copy(e = extractInSelects(o.e, aggInSel)))
          var sortBase = selected
          aggInSel.foreach { case (is, name) =>
            sortBase = addInSelectMarker(ctx, Scope(Seq(None -> sortBase)),
              sortBase, is, name)
          }
          if (orderByAgg.nonEmpty) {
            val sortCols = orderByAgg.map { o =>
              val c = o.e match {
                case Ident(Seq(n)) if sortBase.columns.contains(n) => col(n)
                case other => lowerOuter(extractAggs(other, aggMap))
              }
              if (o.asc) c.asc else c.desc
            }
            sortBase.orderBy(sortCols: _*).drop(aggInSel.values.toSeq: _*)
          } else selected
      }
    }

    val offsetApplied = stmt.offset.map(o => projected.offset(o.toInt))
      .getOrElse(projected)
    stmt.limit.map(l => offsetApplied.limit(l.toInt)).getOrElse(offsetApplied)
  }

  /** Row-valued CASE normalization (MLDB-1734): when any branch is a
    * row literal, every branch is coerced to the UNION of the row
    * fields (missing fields → NULL), and the default ELSE is the empty
    * row `{}` — so `CASE … WHEN 1 THEN {z: 5, y: 8} END` yields a row
    * with z and y NULL on the else path, exactly like the reference
    * (`sql/expression_value.cc` row superposition of CASE arms). */
  private def normalizeCaseStructs(cw: CaseWhen): CaseWhen = {
    val CaseWhen(operand, branches, orElse) = cw
    val structVals = (branches.map(_._2) ++ orElse.toSeq).collect {
      case s: StructLit => s
    }
    if (structVals.isEmpty) cw
    else {
      val fields = scala.collection.mutable.LinkedHashSet[String]()
      structVals.foreach(_.fields.foreach(f => fields += f._1))
      val union = fields.toSeq
      def widen(e: Expr): Expr = e match {
        case StructLit(fs) =>
          val m = fs.toMap
          StructLit(union.map(n => n -> m.getOrElse(n, NullLit(): Expr)))
        case other => other
      }
      CaseWhen(operand, branches.map { case (c, v) => (c, widen(v)) },
        Some(widen(orElse.getOrElse(StructLit(Nil)))))
    }
  }

  private def splitConjuncts(e: Expr): Seq[Expr] = e match {
    case Binary("and", l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Apply a row filter (WHERE or WHEN) with `[NOT] IN (SELECT …)`
    * support: top-level conjuncts become semi/anti-joins (the optimal
    * distributed plan); InSelects nested inside a conjunct (OR
    * branches, CASE arms) evaluate via tri-logic marker columns that
    * are dropped after the filter. */
  private def applyFilter(ctx: Context, scope: Scope, df0: DataFrame,
      w: Expr): DataFrame = {
    val conjuncts = splitConjuncts(w)
    val (inSelects, plain) = conjuncts.partition(_.isInstanceOf[InSelect])
    val inSelMap = scala.collection.mutable.LinkedHashMap[InSelect, String]()
    val plainRw = plain.map(extractInSelects(_, inSelMap))
    var df = df0
    inSelMap.foreach { case (is, name) =>
      df = addInSelectMarker(ctx, scope, df, is, name)
    }
    val base =
      if (plainRw.isEmpty) df
      else {
        val sc2 = Scope(scope.frames :+ (None -> df))
        // MLDB truthiness (MLDBFB-308: `WHERE behA` on a numeric
        // column): a non-boolean conjunct is true when non-null and
        // non-zero
        val conds = plainRw.map { e =>
          val c = lowerExpr(sc2, e)
          resolvedTypeOf(sc2, c) match {
            case Some(org.apache.spark.sql.types.BooleanType) | None => c
            case Some(org.apache.spark.sql.types.StringType) =>
              c.isNotNull && c =!= ""
            case Some(_: org.apache.spark.sql.types.NumericType) =>
              c.isNotNull && c.cast("double") =!= 0.0
            case Some(_) => c.isNotNull
          }
        }
        df.filter(conds.reduce(_ && _))
      }
    val dropped = inSelMap.values.foldLeft(base)(_.drop(_))
    inSelects.foldLeft(dropped) { (d, e) =>
      val InSelect(x, sub, negated) = e: @unchecked // partitioned above
      val subDf = dropImplicitRowName(lowerSelect(ctx, sub))
      val probe = subDf.select(col(subDf.columns.head).as("__in_probe"))
      d.join(probe, lowerExpr(scope, x) === col("__in_probe"),
        if (negated) "left_anti" else "left_semi")
    }
  }

  /** Add boolean column `name` = `x [NOT] IN (subquery)` with full SQL
    * tri-logic, via a distinct-marker left join (the subquery result is
    * typically small → broadcasts). A 1-row has-null flag (broadcast
    * crossJoin — one extra aggregate on the tiny probe) makes a
    * non-matching probe against a subquery containing NULL evaluate to
    * NULL rather than a definite miss: x NOT IN (set with NULL) is
    * NULL for non-matching x. An empty subquery is a definite miss. */
  private def addInSelectMarker(ctx: Context, scope: Scope, out: DataFrame,
      is: InSelect, name: String): DataFrame =
    addInSelectMarkerCol(ctx, out, lowerExpr(scope, is.e), is, name)

  /** Marker join with a pre-lowered probe column — the post-aggregation
    * positions (HAVING, projection items, ORDER BY) lower the probe
    * against the grouped frame (group keys by original AST, extracted
    * aggregates by name), which plain scope lowering cannot express. */
  private def addInSelectMarkerCol(ctx: Context, out: DataFrame,
      xe: Column, is: InSelect, name: String): DataFrame = {
    val InSelect(_, sub, neg) = is
    val subDf = dropImplicitRowName(lowerSelect(ctx, sub))
    val vcol = subDf.columns.head
    val probe = subDf.select(col(vcol).as(s"${name}_v"))
      .filter(col(s"${name}_v").isNotNull)
      .distinct().withColumn(s"${name}_hit", lit(1))
    val nullFlag = broadcast(subDf.agg(
      max(when(col(vcol).isNull, 1).otherwise(0)).as(s"${name}_subnull")))
    val hit = col(s"${name}_hit").isNotNull
    // empty subquery → subnull is NULL (max over no rows) → definite miss
    val miss = when(col(s"${name}_subnull") === 1, lit(null).cast("boolean"))
      .otherwise(lit(false))
    val inVal = when(hit, lit(true)).otherwise(miss)
    out.join(probe, xe === col(s"${name}_v"), "left")
      .crossJoin(nullFlag)
      .withColumn(name,
        when(xe.isNull, lit(null).cast("boolean"))
          .otherwise(if (neg) !inVal else inVal))
      .drop(s"${name}_v", s"${name}_hit", s"${name}_subnull")
  }

  /** Leaf single-column references of an expression — try()'s
    * input-null guard. */
  private def collectIdents(e: Expr): Seq[String] = (e match {
    case Ident(Seq(n)) => Seq(n)
    case Ident(_) => Nil
    case FnCall(_, args, _) => args.flatMap(collectIdents)
    case FnApply(_, args, _) => args.flatMap(kv => collectIdents(kv._2))
    case Binary(_, l, r) => collectIdents(l) ++ collectIdents(r)
    case Unary(_, x) => collectIdents(x)
    case CaseWhen(op, br, oe) => op.toSeq.flatMap(collectIdents) ++
      br.flatMap(b => collectIdents(b._1) ++ collectIdents(b._2)) ++
      oe.toSeq.flatMap(collectIdents)
    case CastExpr(x, _) => collectIdents(x)
    case Between(x, lo, hi, _) => Seq(x, lo, hi).flatMap(collectIdents)
    case InList(x, items, _) => collectIdents(x) ++ items.flatMap(collectIdents)
    case IsNull(x, _) => collectIdents(x)
    case IsType(x, _, _) => collectIdents(x)
    case InKeysOf(x, c, _, _) => collectIdents(x) ++ collectIdents(c)
    case LikeExpr(x, p, _) => collectIdents(x) ++ collectIdents(p)
    case ArrayLit(items) => items.flatMap(collectIdents)
    case StructLit(fs) => fs.flatMap(f => collectIdents(f._2))
    case _ => Nil
  }).distinct

  /** Replace InSelect nodes in EXPRESSION position with references to
    * precomputed boolean columns; collect the subqueries. (WHERE-level
    * conjuncts keep the better semi/anti-join plan — this path serves
    * `x IN (SELECT …)` used as a value, e.g. in a projection or CASE.) */
  private def extractInSelects(e: Expr,
      acc: scala.collection.mutable.LinkedHashMap[InSelect, String]): Expr = e match {
    case is: InSelect =>
      Ident(Seq(acc.getOrElseUpdate(is, s"__insel${acc.size}")))
    case FnCall(n, args, s) => FnCall(n, args.map(extractInSelects(_, acc)), s)
    case FnApply(n, args, o) =>
      FnApply(n, args.map(kv => kv._1 -> extractInSelects(kv._2, acc)), o)
    case Binary(op, l, r) =>
      Binary(op, extractInSelects(l, acc), extractInSelects(r, acc))
    case Unary(op, x) => Unary(op, extractInSelects(x, acc))
    case CaseWhen(op, br, oe) => CaseWhen(op.map(extractInSelects(_, acc)),
      br.map(b => (extractInSelects(b._1, acc), extractInSelects(b._2, acc))),
      oe.map(extractInSelects(_, acc)))
    case CastExpr(x, t) => CastExpr(extractInSelects(x, acc), t)
    case IsNull(x, n) => IsNull(extractInSelects(x, acc), n)
    case IsType(x, t, n) => IsType(extractInSelects(x, acc), t, n)
    case other => other
  }
}
