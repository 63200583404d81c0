package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables

/** Public entry point for the MLDB SQL dialect.
  *
  * `GraftSql.query(spark, dir, "SELECT … NAMED … WHEN …")` parses the
  * dialect (recursive descent, reference grammar
  * `/root/reference/sql/sql_expression.cc`) and lowers it to a
  * DataFrame plan — the equivalent of the reference's
  * `GET /v1/query?q=<sql>` path (`server/mldb_server.cc:209-228`)
  * minus the HTTP layer.
  */
object GraftSql {
  /** Builtin function names — user function registration must not
    * shadow them (MLDB-1661: "MLDB already has a built-in function
    * named …"). Generated from the dialect's dispatch tables. */
  val builtinFunctionNames: Set[String] = Set(
    "abs",
    "ceil",
    "ceiling",
    "e",
    "earliest_timestamp",
    "fetcher",
    "flatten_path",
    "jseval_bool",
    "jseval_num",
    "jseval_str",
    "latest_timestamp",
    "mod",
    "pi",
    "pow",
    "power",
    "print_path",
    "stringify_path",
    "substr",
    "substring",
    "try",
    "unflatten_path",
    "value_timestamp",
    "__isconst",
    "static_expression_info",
    "static_type",
    "static_known_columns",
    "acos",
    "acosh",
    "amplitude",
    "asin",
    "asinh",
    "atan",
    "atan2",
    "atanh",
    "avg",
    "base64_decode",
    "base64_encode",
    "binomial_lb_80",
    "binomial_ub_80",
    "blob_length",
    "clamp",
    "coalesce",
    "columncount",
    "concat",
    "cos",
    "cosh",
    "cosine_similarity",
    "count",
    "count_distinct",
    "count_distinct_approx",
    "date_part",
    "date_trunc",
    "distinct_timestamps",
    "dot_product",
    "earliest",
    "exp",
    "extract_column",
    "extract_domain",
    "extract_json",
    "fft",
    "fingerprint",
    "fix_text",
    "flatten",
    "floor",
    "geo_distance",
    "greatest",
    "hash",
    "horizontal_avg",
    "horizontal_count",
    "horizontal_earliest",
    "horizontal_latest",
    "horizontal_max",
    "horizontal_min",
    "horizontal_string_agg",
    "horizontal_sum",
    "html_links",
    "html_title",
    "html_to_text",
    "ifft",
    "imag",
    "image_meta",
    "implicit_cast",
    "impulse",
    "isfinite",
    "isinf",
    "isnan",
    "jaccard_index",
    "jseval",
    "language_id",
    "latest",
    "least",
    "leftrowname",
    "length",
    "levenshtein_distance",
    "likelihood_ratio",
    "ln",
    "log",
    "lower",
    "max",
    "mime_type",
    "min",
    "nfc_normalize",
    "norm",
    "normalize",
    "normalize_url",
    "now",
    "parse_exif",
    "parse_json",
    "parse_path",
    "parse_useragent",
    "path_element",
    "path_length",
    "phase",
    "pivot",
    "print_json",
    "proximate_voxels",
    "quality_score",
    "quantize",
    "real",
    "redact_pii",
    "regex_match",
    "regex_replace",
    "regex_search",
    "remove_prefix",
    "remove_suffix",
    "repetition_ratio",
    "replace",
    "replace_inf",
    "replace_nan",
    "replace_not_finite",
    "replace_null",
    "reshape",
    "rightrowname",
    "round",
    "rowhash",
    "rowname",
    "rowpath",
    "rowpathelement",
    "shape",
    "shifted_impulse",
    "sign",
    "sin",
    "sinh",
    "slice",
    "split_part",
    "sqrt",
    "st_contains_point",
    "static_type",
    "stddev",
    "stem",
    "stemmer",
    "string_agg",
    "sum",
    "tan",
    "tanh",
    "temporal_avg",
    "temporal_count",
    "temporal_earliest",
    "temporal_latest",
    "temporal_max",
    "temporal_min",
    "temporal_sum",
    "to_timestamp",
    "token_count",
    "token_extract",
    "tokenize",
    "trim",
    "upper",
    "variance",
    "vector_diff",
    "vector_product",
    "vector_quotient",
    "vector_sum")


  /** Resolver over the test tables in `dir`; `events` goes
    * through its timestamp-normalizing loader. */
  private def testTables(spark: SparkSession, dir: String): String => DataFrame = {
    case "events" => Tables.events(spark, dir)
    case name => Tables.load(spark, dir, name)
  }

  /** Query over the driver test tables in `dir`. */
  def query(spark: SparkSession, dir: String, sql: String): DataFrame =
    queryTables(spark, testTables(spark, dir), sql)

  /** Query over an arbitrary table resolver (the dataset registry). */
  def queryTables(spark: SparkSession, tables: String => DataFrame,
      sql: String, params: Map[String, Any] = Map.empty,
      macros: Map[String, Seq[Ast.SelectItem]] = Map.empty,
      lookups: Map[String, Lowering.ParamLookup] = Map.empty,
      rowPivots: Map[String, Lowering.RowPivot] = Map.empty,
      columnFns: Map[String, Lowering.ColumnFn] = Map.empty): DataFrame =
    Lowering.run(
      Lowering.Context(spark, tables, params, macros, lookups, rowPivots,
        columnFns),
      Parser.parse(sql))

  /** Same, from an already-parsed (possibly rewritten) statement —
    * procedures that augment the user's query AST (bucketize's
    * implicit `rowName() AS rowName`) enter here. */
  def queryStmtTables(spark: SparkSession, tables: String => DataFrame,
      stmt: Ast.Select, params: Map[String, Any] = Map.empty,
      macros: Map[String, Seq[Ast.SelectItem]] = Map.empty,
      lookups: Map[String, Lowering.ParamLookup] = Map.empty,
      rowPivots: Map[String, Lowering.RowPivot] = Map.empty,
      columnFns: Map[String, Lowering.ColumnFn] = Map.empty): DataFrame =
    Lowering.run(
      Lowering.Context(spark, tables, params, macros, lookups, rowPivots,
        columnFns),
      stmt)

  /** Parameterized query: `$name` placeholders bound from `params`. */
  def query(spark: SparkSession, dir: String, sql: String,
      params: Map[String, Any]): DataFrame =
    queryTables(spark, testTables(spark, dir), sql, params)
}
