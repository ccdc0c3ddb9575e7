package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Wire endpoints of [[QueryDsl]] beyond `_search`: `_count`,
  * `_explain`, by-query writes, `_mget`, `_termvectors`, templates,
  * `_terms_enum`, `_field_caps`, `_analyze`, `_validate`, `_msearch`
  * (counts and full bodies), the PIT surface, indexed `_search`
  * (BM25 via the similarity knob), `_rank_eval`, and the hybrid
  * request.
  */
private[search] trait QueryDslEndpoints { this: QueryDsl.type =>

  // -------------------------------------------------------------- request

  /** The `_count` endpoint: how many documents match the request's
    * `query` — one row, one `count` column. Compiles the same
    * predicate as `search` (pushed filters, codegen) into a single
    * global aggregate: no sort, no score materialization, the
    * cheapest possible plan for the question clients ask most.
    * Only `query` is meaningful here; any other request section
    * fails loud (OpenSearch's _count takes no sort/size/aggs either).
    */
  def countRequest(table: DataFrame, requestJson: String): DataFrame =
    table.filter(countPredicate(requestJson, "_count"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))

  /** The `_explain` endpoint: per-hit integer score decomposition —
    * the debugging surface users reach for first. Output: the id
    * column, the hit's `score`, and one `part_<label>` column per
    * clause part, with the INVARIANT `sum(parts) == score` (spec'd
    * for bool / dis_max / function_score). Parts by top-level clause:
    * bool → each must (its score) and should (score when matched,
    * else 0; filter/must_not are filter-context and contribute 0 by
    * the model, so they emit no part); dis_max → each sub-query's
    * tie-broken ppm contribution plus the `best` bonus
    * (best·(10⁶−tb)); function_score → the inner query's score plus
    * what the functions added (additive by construction for both
    * boost modes); constant_score → the boost; any other clause → one
    * `query` part. One projection over the SAME filtered scan
    * `search` runs — zero extra scans, exact longs (ppm-scaled
    * requests decompose in ppm units).
    */
  def explain(table: DataFrame, requestJson: String,
      idField: String): DataFrame = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"request body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("query")).foreach(k =>
      fail(s"_explain takes only a query (got '$k')"))
    val q = req.getOrElse("query", fail("_explain requires a query"))
    if (!table.columns.contains(idField))
      fail(s"_explain id field '$idField' is not a column of the table")
    val compiled = compileQuery(q) // fails loud on malformed shapes first
    val parts = scoreParts(q, compiled)
    table.filter(compiled.pred).select(
      col(idField) +: compiled.score.as("score") +:
        parts.map { case (n, c) => c.as(s"part_$n") }: _*)
  }

  /** The per-clause score decomposition shared by the `_explain`
    * endpoint and the request-level `explain` flag — sum(parts) ==
    * score by construction (spec'd for bool / dis_max /
    * function_score).
    */
  private[search] def scoreParts(q: JValue, compiled: CompiledQuery)
      : Seq[(String, Column)] = q match {
      case JObject(List(("bool", JObject(b)))) =>
        val m = b.toMap
        def clauses(sec: String): Seq[JValue] = m.get(sec) match {
          case None               => Nil
          case Some(JArray(cs))   => cs
          case Some(one: JObject) => Seq(one)
          case Some(_)            => Nil // compileQuery already failed loud
        }
        val must = clauses("must").zipWithIndex.map { case (c, i) =>
          (s"must_$i", compileQuery(c).score)
        }
        val should = clauses("should").zipWithIndex.map { case (c, i) =>
          val cc = compileQuery(c)
          (s"should_$i", when(cc.pred, cc.score).otherwise(lit(0L)))
        }
        if ((must ++ should).isEmpty) Seq(("query", compiled.score))
        else must ++ should
      case JObject(List(("dis_max", JObject(b)))) =>
        val m = b.toMap
        val subs = m.get("queries") match {
          case Some(JArray(qs)) => qs.map(compileQuery)
          case _                => Nil // unreachable: compileQuery failed loud
        }
        val tbPpm = ppmOf(m, "tie_breaker", 0L)
        val matched = subs.map(c => when(c.pred, c.score).otherwise(lit(0L)))
        val best =
          if (matched.size == 1) matched.head else greatest(matched: _*)
        matched.zipWithIndex.map { case (s, i) =>
          (s"queries_$i", s * lit(tbPpm))
        } :+ ("best", best * lit(1000000L - tbPpm))
      case JObject(List(("function_score", JObject(b)))) =>
        val m = b.toMap
        val inner = m.get("query").map(compileQuery)
          .getOrElse(CompiledQuery(lit(true), lit(0L)))
        Seq(("query", inner.score),
          ("functions", compiled.score - inner.score))
      case JObject(List(("constant_score", _))) =>
        Seq(("boost", compiled.score))
      case _ => Seq(("query", compiled.score))
    }

  /** The ONE `_count`-shape compile — `{query}` only, request-level
    * corpus-state clauses rejected — shared by [[countRequest]] and
    * [[msearchCounts]] so the two validations can never drift.
    */
  private[search] def countPredicate(requestJson: String, endpoint: String): Column = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"$endpoint body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("query")).foreach(k =>
      fail(s"unsupported $endpoint request key '$k' (only query)"))
    req.get("query").foreach {
      case JObject(List((clause, _)))
        if Set("more_like_this", "span_near", "percolate",
          "intervals").contains(clause) =>
        fail(s"$endpoint does not take the request-level '$clause' query")
      case _ => ()
    }
    req.get("query").map(compileQuery(_).pred).getOrElse(lit(true))
  }

  /** `_delete_by_query`: the maintenance write op as DATA — matching
    * documents become CDC delete events (`_action = "delete"`), which
    * the caller applies through the existing merge machinery
    * ([[graft.etl.CdcMerge]] for materialized tables,
    * [[graft.etl.SearchIndex.mergeCdcBatch]] /
    * [[graft.operators.IvfIndex.mergeCdcBatch]] for the maintained
    * indexes — all touched-bucket-only rewrites). The predicate is the
    * same pushed-filter compile as `_count`; corpus-state queries are
    * rejected the same way. The plan is one filtered scan + a literal
    * action column — nothing driver-side.
    */
  def deleteByQuery(table: DataFrame, requestJson: String): DataFrame =
    table.filter(countPredicate(requestJson, "_delete_by_query"))
      .withColumn("_action", lit("delete"))

  /** `_update_by_query`: matching documents with the script mutation
    * applied, emitted as CDC upsert events (`_action = "upsert"`) for
    * the same merge machinery. The script is the Painless assignment
    * shape real requests use — `ctx._source.<field> = <rhs>` — with
    * `<rhs>` either `params.<p>` bound to a STRING param (literal
    * replacement: the redaction/retag flow) or a [[ScoreScript]]
    * integer expression over `doc['f'].value` and integer params
    * (compiled to codegen'd Catalyst arithmetic, zero row-time
    * interpretation). `_score` does not exist in an update context and
    * fails loud, as does any script outside the assignment grammar.
    */
  def updateByQuery(table: DataFrame, requestJson: String): DataFrame = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"_update_by_query body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("query", "script")).foreach(k =>
      fail(s"unsupported _update_by_query request key '$k'"))
    val pred = countPredicate(
      JsonMethods.compact(JsonMethods.render(
        JObject(req.get("query").map("query" -> _).toList))),
      "_update_by_query")
    val (src, params) = req.get("script") match {
      case Some(JObject(s)) =>
        val sm = s.toMap
        sm.keySet.diff(Set("source", "params")).foreach(k =>
          fail(s"unsupported _update_by_query script option '$k'"))
        (strOpt(sm, "source")
          .getOrElse(fail("_update_by_query script needs a source")),
          sm.get("params") match {
            case Some(JObject(po)) => po.toMap
            case None              => Map.empty[String, JValue]
            case Some(other) => fail(s"script params must be an object: ${render(other)}")
          })
      case _ => fail("_update_by_query needs {script: {source, params?}}")
    }
    val AssignRe = """^ctx\._source\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$""".r
    val (field, rhs) = src.trim match {
      case AssignRe(f, r) => (f, r.trim)
      case other => fail("_update_by_query script must be an assignment " +
        s"'ctx._source.<field> = <expr>', got: $other")
    }
    val ParamRef = """^params\.([A-Za-z_][A-Za-z0-9_]*)$""".r
    val value: Column = rhs match {
      // a bare params.<p> bound to a string = literal replacement
      case ParamRef(p) if params.get(p).exists(_.isInstanceOf[JString]) =>
        lit(params(p).asInstanceOf[JString].s)
      case _ =>
        val intParams = params.map {
          case (k, JInt(v)) => k -> v.toLong
          case (k, JString(_)) => fail(s"string param '$k' is only usable as " +
            "the whole right-hand side (ctx._source.f = params." + k + ")")
          case (k, other) =>
            fail(s"script param '$k' must be an integer or string: ${render(other)}")
        }
        if (ScoreScript.referencesScore(rhs))
          fail("_update_by_query scripts have no _score")
        ScoreScript.compile(rhs, intParams, lit(0L))
    }
    if (!table.columns.contains(field))
      fail(s"_update_by_query target field '$field' is not a column " +
        s"(have: ${table.columns.mkString(", ")})")
    table.filter(pred)
      .withColumn(field, value)
      .withColumn("_action", lit("upsert"))
  }

  /** The `_mget` endpoint: the requested documents IN REQUEST ORDER
    * (the OpenSearch response contract — docs come back in the order
    * asked, not sorted). One pushed `isin` filter plus an
    * array_position rank over the ≤|ids| matched rows; ids absent
    * from the corpus are simply absent from the result (the
    * found=false entries of the wire response carry no fields).
    * Duplicate requested ids fail loud — the order rank would be
    * ambiguous.
    */
  def mget(table: DataFrame, requestJson: String): DataFrame = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"_mget body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("id_field", "ids")).foreach(k =>
      fail(s"unsupported _mget request key '$k'"))
    val idField = strOpt(req, "id_field")
      .getOrElse(fail("_mget requires id_field"))
    val ids: Seq[Any] = req.get("ids") match {
      case Some(JArray(vs)) if vs.nonEmpty => vs.map(scalaOf)
      case _ => fail("_mget requires a non-empty ids array")
    }
    if (ids.distinct.size != ids.size) fail("_mget ids repeat")
    val idArray = array(ids.map(lit): _*)
    table.filter(col(idField).isin(ids: _*))
      .withColumn("__ord", array_position(idArray, col(idField)))
      .orderBy(col("__ord"))
      .drop("__ord")
  }

  /** `hybrid`: reciprocal-rank fusion of N independently-RANKED arms
    * (the q102 lexical+vector contract as a wire shape — OpenSearch's
    * hybrid query). Each arm compiles like any clause, ranks its own
    * hit set by (score desc, id) inside a `window_size` window, and
    * the fused score is Σ 10⁶ div (rank_constant + rank) over the
    * arms where the doc appears (an absent arm contributes 0 — the
    * RRF convention; exact integer, engine-portable). The per-arm
    * windows are BOUNDED (orderBy + limit BEFORE the row_number), so
    * the fusion joins touch ≤ N·window_size rows at any corpus size
    * (Spark can't broadcast FULL OUTER joins, so the plan shows a
    * sort-merge — over ≤2·window rows per join, measured noise; the
    * corpus-sized work is the per-arm scans). OpenSearch normalizes via a
    * search-pipeline processor (min-max float normalization — not
    * bit-portable); deterministic RRF is the documented analog, the
    * same divergence q102 locked in. Rank scales are rank-only, so
    * ppm-scaled arms (dis_max, best_fields) compose freely.
    * Output: (id_field, rank_1..rank_N, score = rrf ppm).
    */
  private[search] def hybridRequest(table: DataFrame, body: JValue): DataFrame =
    body match {
      case JObject(parts) =>
        import org.apache.spark.sql.expressions.Window
        val m = parts.toMap
        m.keySet.diff(Set("queries", "id_field", "window_size",
          "rank_constant")).foreach(k =>
          fail(s"unsupported hybrid option '$k'"))
        val idField = strOpt(m, "id_field")
          .getOrElse(fail("hybrid requires id_field (the document key)"))
        val win = intOpt(m, "window_size").getOrElse(20)
        if (win < 1 || win > 1000)
          fail(s"hybrid window_size must be in [1, 1000], got $win")
        val kc = intOpt(m, "rank_constant").getOrElse(60)
        if (kc < 1) fail(s"hybrid rank_constant must be >= 1, got $kc")
        val arms = m.get("queries") match {
          case Some(JArray(qs)) if qs.size >= 2 && qs.size <= 8 =>
            qs.map(compileQuery)
          case _ => fail("hybrid requires a queries array of 2-8 clauses")
        }
        if (arms.exists(_.named.nonEmpty))
          fail("_name inside hybrid arms is unsupported (matched_queries " +
            "reflects per-row predicates, not fused ranks)")
        val ranked = arms.zipWithIndex.map { case (a, i) =>
          table.filter(a.pred)
            .select(col(idField), a.score.as("__s"))
            .orderBy(col("__s").desc, col(idField))
            .limit(win)
            // window bound: ≤ window_size (≤ 1000) rows, the limit above
            .select(col(idField),
              row_number().over(Window.orderBy(col("__s").desc, col(idField)))
                .cast("long").as(s"rank_${i + 1}"))
        }
        val fused = ranked.reduce((l, r) => l.join(r, Seq(idField), "full_outer"))
        val rrf = arms.indices.map(i =>
            coalesce(expr(s"1000000L div (${kc}L + rank_${i + 1})"), lit(0L)))
          .reduce(_ + _).as("score")
        fused.select(
          (col(idField) +: arms.indices.map(i => col(s"rank_${i + 1}"))) :+ rrf: _*)
      case other => fail(s"hybrid requires an object body: ${render(other)}")
    }

  /** The `_termvectors` endpoint: per-term statistics of ONE
    * document's field — the relevance-debugging surface (why does
    * this doc score the way it does?). Output: one row per DISTINCT
    * analyzed term, sorted by term —
    * `(term, term_freq[, positions][, doc_freq, ttf])`. `positions`
    * (opt-in) carries the 0-based token positions comma-joined (the
    * flat-hit-table analog of the wire's positions array);
    * `term_statistics` (opt-in) adds corpus doc_freq/ttf. The
    * document read is a pushed-filter point read (id must be unique —
    * a duplicate would silently merge two vectors, fail loud);
    * term_statistics costs ONE corpus scan whose partial agg is
    * vocabulary-bounded and map-side combined, joined to the tiny
    * per-doc term set (broadcast by size).
    */
  def termvectors(table: DataFrame, requestJson: String): DataFrame = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"_termvectors body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("id_field", "id", "field", "analyzer",
      "positions", "term_statistics")).foreach(k =>
      fail(s"unsupported _termvectors request key '$k'"))
    val idField = strOpt(req, "id_field")
      .getOrElse(fail("_termvectors requires id_field"))
    val id = req.getOrElse("id", fail("_termvectors requires an id"))
    val field = strOpt(req, "field")
      .getOrElse(fail("_termvectors requires a field"))
    val an = analyzerOpt(req, "_termvectors")
    def flag(k: String): Boolean = req.get(k) match {
      case None           => false
      case Some(JBool(b)) => b
      case Some(other)    => fail(s"$k must be a boolean: ${render(other)}")
    }
    val withPos = flag("positions")
    val withStats = flag("term_statistics")
    val matched = table.filter(col(idField) === litOf(id))
      .select(col(idField)).limit(2).collect()
    if (matched.isEmpty)
      fail(s"_termvectors: no row with $idField = ${render(id)}")
    if (matched.length > 1)
      fail(s"_termvectors: $idField = ${render(id)} is not unique")
    val pos = table.filter(col(idField) === litOf(id))
      .select(posexplode(split(an.norm(col(field)), " ")).as(Seq("p", "term")))
    val base = pos.groupBy("term").agg(
      count(lit(1)).as("term_freq"),
      array_join(transform(sort_array(collect_list(col("p"))),
        _.cast("string")), ",").as("positions"))
    val projected = if (withPos) base else base.drop("positions")
    val out =
      if (!withStats) projected
      else {
        val corpus = table.select(col(idField).as("__id"),
          explode(split(an.norm(col(field)), " ")).as("term"))
        val stats = corpus.groupBy("term").agg(
          countDistinct(col("__id")).as("doc_freq"),
          count(lit(1)).as("ttf"))
        // inner join: every doc term exists in the corpus by
        // construction; the ≤|doc terms| side broadcasts
        projected.join(stats, "term")
      }
    out.orderBy("term")
  }

  /** The `_search/template` endpoint: a request body with `{{var}}`
    * placeholders bound from `params` ON THE DRIVER (the mustache
    * subset OpenSearch templates actually use: simple variables —
    * sections/partials/defaults fail loud), then compiled like any
    * request. Substitution is textual into the source string, exactly
    * the OpenSearch model: a string param replaces `{{v}}` inside the
    * author's quotes, a number replaces a bare `{{v}}`. Unbound
    * placeholders fail loud; unused params are allowed (the
    * share-one-param-set-across-templates idiom).
    */
  def searchTemplate(table: DataFrame, templateJson: String): DataFrame = {
    val req = parse(templateJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"template body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("source", "params")).foreach(k =>
      fail(s"unsupported template key '$k'"))
    val source = strOpt(req, "source")
      .getOrElse(fail("template needs a source string"))
    val params: Map[String, String] = req.get("params") match {
      case Some(JObject(ps)) => ps.map {
        case (k, JString(v)) =>
          // textual substitution means a JSON metacharacter in the
          // value would break or INJECT into the compiled request —
          // fail loud (OpenSearch's raw mustache shares this hazard
          // and merely documents it; we refuse it)
          if (v.exists(c => c == '"' || c == '\\' || c == '{' ||
              c == '}' || c < ' '))
            fail(s"template param '$k' contains JSON metacharacters " +
              "(quote/brace/backslash/control) - not substitutable")
          k -> v
        case (k, JInt(v))     => k -> v.toString
        case (k, JBool(v))    => k -> v.toString
        case (k, other) =>
          fail(s"template param '$k' must be a string/integer/boolean: ${render(other)}")
      }.toMap
      case None        => Map.empty
      case Some(other) => fail(s"template params must be an object: ${render(other)}")
    }
    if (source.contains("{{#") || source.contains("{{^") || source.contains("{{>"))
      fail("template sections/partials are unsupported (simple {{var}} only)")
    val bound = params.foldLeft(source) { case (acc, (k, v)) =>
      acc.replace(s"{{$k}}", v)
    }
    val Unbound = """\{\{([^}]*)\}\}""".r
    Unbound.findFirstMatchIn(bound).foreach(m =>
      fail(s"template placeholder '{{${m.group(1)}}}' has no binding"))
    search(table, bound)
  }

  /** The `_terms_enum` endpoint: index terms matching a prefix, in
    * term order — the autocomplete/discovery call. `tokens: true`
    * enumerates whitespace tokens of a text field (one explode +
    * distinct), otherwise the field's distinct values; either way ONE
    * distinct aggregation with the prefix pushed below it, top `size`
    * in lexicographic order (the OpenSearch response order).
    */
  def termsEnum(table: DataFrame, requestJson: String): DataFrame = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"_terms_enum body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("field", "string", "size", "tokens")).foreach(k =>
      fail(s"unsupported _terms_enum request key '$k'"))
    val f = strOpt(req, "field").getOrElse(fail("_terms_enum requires a field"))
    val prefix = strOpt(req, "string").getOrElse("")
    val size = intOpt(req, "size").getOrElse(10)
    if (size < 1) fail("_terms_enum size must be >= 1")
    val tokens = req.get("tokens") match {
      case Some(JBool(b)) => b
      case None           => false
      case Some(other)    => fail(s"tokens must be a boolean: ${render(other)}")
    }
    val terms =
      if (tokens)
        table.select(explode(split(col(f), " ")).as("term"))
          .filter(col("term") =!= "")
      else table.select(col(f).as("term")).filter(col("term").isNotNull)
    terms.filter(col("term").startsWith(prefix))
      .distinct()
      .orderBy(col("term").asc)
      .limit(size)
  }

  /** The `_field_caps` endpoint: the table's queryable fields and
    * types — pure schema introspection, zero data reads (the one
    * driver-side-only endpoint, by nature).
    */
  def fieldCaps(table: DataFrame): DataFrame = {
    val spark = table.sparkSession
    import spark.implicits._
    table.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("field", "type", "nullable")
      .orderBy("field")
  }

  /** The `_analyze` endpoint: run a named analyzer over request text
    * and return the token stream with 0-based positions — the first
    * debugging surface a user reaches for ("why didn't my query
    * match this text"). The engine's analyzers are column NORMALIZERS
    * (the strip→lower→single-space contract), so the output is
    * exactly the token stream every matching surface sees — computed
    * through the SAME `Analyzer.norm` column expression, so the
    * endpoint can never disagree with the engine's own tokenization.
    * Character start/end offsets into the original string are not
    * part of the normalizer model; there is no option to ask for
    * them, and unknown request keys fail loud.
    */
  def analyze(spark: org.apache.spark.sql.SparkSession,
      requestJson: String): DataFrame = {
    val m = parse(requestJson) match {
      case JObject(s) => s.toMap
      case other      => fail(s"_analyze requires an object: ${render(other)}")
    }
    m.keySet.diff(Set("analyzer", "text")).foreach(k =>
      fail(s"unsupported _analyze option '$k'"))
    val an = analyzerOpt(m, "_analyze")
    val text = strOpt(m, "text").getOrElse(fail("_analyze needs text"))
    analyzeText(spark, an, text)
  }

  /** The engine-API arm of [[analyze]] (same one implementation). */
  def analyzeText(spark: org.apache.spark.sql.SparkSession, an: Analyzer,
      text: String): DataFrame = {
    import spark.implicits._
    Seq(text).toDF("__t")
      .select(posexplode(split(an.norm(col("__t")), " "))
        .as(Seq("position", "token")))
      .select(col("token"), col("position").cast("long").as("position"))
      .orderBy(col("position"))
  }

  /** The `_validate/query` endpoint: compile the request against the
    * table's schema WITHOUT running corpus work. Returns (valid,
    * explanation) — compile and analysis errors come back AS DATA
    * instead of throwing, because reporting them IS this request's
    * job (the one surface where fail-loud means "return the
    * failure"). Validation compiles against `table.limit(0)` — the
    * optimizer folds a 0-limit to an empty relation, so request
    * shapes whose compilation touches data (auto_date_histogram's
    * unit choice, the request-level corpus-state plans) cost zero
    * rows here instead of a corpus scan on a pre-flight check.
    */
  def validateRequest(table: DataFrame, requestJson: String): (Boolean, Option[String]) =
    try {
      search(table.limit(0), requestJson).queryExecution.assertAnalyzed()
      (true, None)
    } catch {
      case e: Exception => (false, Option(e.getMessage))
    }

  /** `_msearch` over `_count`-shaped bodies: N requests answered by
    * ONE corpus scan. Each body's query compiles to a predicate; all
    * N become conditional counts in a SINGLE global aggregate — so a
    * dashboard firing 50 filters costs one pass over 100 TB, not 50
    * (the multi-query-optimization shape Spark's one-request-one-plan
    * model doesn't give you for free). Output: (req, count) in
    * request order.
    */
  def msearchCounts(table: DataFrame, requestJsons: Seq[String]): DataFrame = {
    if (requestJsons.isEmpty) fail("_msearch needs at least one request")
    val preds = requestJsons.map(countPredicate(_, "_msearch"))
    val cols = preds.zipWithIndex.map { case (p, i) =>
      count(when(p, 1L)).as(s"__c$i")
    }
    val row = table.agg(cols.head, cols.tail: _*)
    val pairs = preds.indices.map(i =>
      struct(lit(i.toLong).as("req"), col(s"__c$i").as("count")))
    row.select(explode(array(pairs: _*)).as("r"))
      .select(col("r.req").as("req"), col("r.count").as("count"))
      .orderBy("req")
  }

  /** `_msearch` with FULL request bodies — the dashboard batch
    * (VERDICT r10 #2): N mixed count / single-metric-agg / terms-agg /
    * hit requests over one table, grouped so compatible requests SHARE
    * a scan instead of costing one scan each:
    *
    *  - every count body and single-value metric body (value_count /
    *    sum / min / max / avg, optionally query-filtered) compiles to
    *    a CONDITIONAL AGGREGATE column of ONE `table.agg` pass — one
    *    FileScan for the whole group (plan-pinned), the
    *    [[msearchCounts]] amortization extended to metrics;
    *  - terms-agg bodies group BY FIELD: all requests bucketing the
    *    same field ride one groupBy scan as conditional counts, ranked
    *    per-request by a window over the (post-aggregation,
    *    bucket-table-sized — the deliberately-bounded-window doctrine)
    *    grouped table;
    *  - hit bodies share ONE scored scan: each row evaluates every
    *    request's (pred, score) once, matches explode (req, -score,
    *    id), and a BOUNDED-HEAP aggregate
    *    ([[graft.functions.Aggregators.SmallestKByKey]]) keeps ≤ max
    *    size pairs per request through map-side combine — shuffle
    *    volume `partitions × requests × k` regardless of match counts,
    *    never a per-request corpus sort.
    *
    * The wire shape is LONG format — one row per response element,
    * `(req, kind, ord, key, value)`: counts (`kind=count`, key
    * "count"), metrics (`kind=agg`, key = agg name), terms buckets
    * (`kind=terms`, ord = 1-based bucket rank by doc_count desc / key
    * asc, key = bucket key string, value = doc_count), hits
    * (`kind=hit`, ord = 1-based rank by score desc / id asc, key = doc
    * id string, value = score). Exactness contract: sum/avg metrics
    * require INTEGRAL fields (the extended_stats model — exact integer
    * sums, avg is one IEEE divide), hit ids must be integral (the
    * heap's key pair), min/max/value_count take any orderable field.
    * Anything else in a body fails loud — batch what batches, send the
    * rest solo through `_search`.
    */
  def msearch(table: DataFrame, requestJsons: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{functions => F, Encoders}
    import org.apache.spark.sql.types._
    if (requestJsons.isEmpty) fail("_msearch needs at least one request")

    sealed trait Arm
    final case class CountArm(i: Int, pred: Column) extends Arm
    final case class MetricArm(i: Int, name: String, value: Column) extends Arm
    final case class TermsArm(i: Int, field: String, size: Int,
      pred: Column) extends Arm
    final case class HitArm(i: Int, idField: String, pred: Column,
      score: Column, size: Int) extends Arm

    def integral(f: String, where: String): Unit =
      table.schema.find(_.name == f) match {
        case Some(sf) => sf.dataType match {
          case ByteType | ShortType | IntegerType | LongType => ()
          case dt => fail(s"$where field '$f' must be integral (the exact " +
            s"cross-engine model), got ${dt.simpleString}")
        }
        case None => fail(s"$where names unknown field '$f'")
      }

    val arms: Seq[Arm] = requestJsons.zipWithIndex.map { case (json, i) =>
      val m = parse(json) match {
        case o: JObject => o.obj.toMap
        case other => fail(s"_msearch body $i must be an object: ${render(other)}")
      }
      m.keySet.diff(Set("query", "aggs", "size", "_source", "sort")).foreach(k =>
        fail(s"unsupported _msearch body key '$k' in request $i — batch " +
          "query/aggs/hits bodies; anything else goes solo through _search"))
      val pred = m.get("query").map(compileQuery(_).pred).getOrElse(lit(true))
      if (m.contains("aggs")) {
        m.get("size").foreach {
          case JInt(n) if n == 0 => ()
          case other =>
            fail(s"_msearch agg body $i takes size 0 only: ${render(other)}")
        }
        if (m.contains("_source") || m.contains("sort"))
          fail(s"_msearch agg body $i cannot carry _source/sort")
        val (name, spec) = m("aggs") match {
          case JObject(List((n, JObject(s)))) => (n, s.toMap)
          case other => fail(s"_msearch body $i aggs must hold exactly one " +
            s"agg: ${render(other)}")
        }
        spec.toList match {
          case List(("terms", JObject(t))) =>
            val tm = t.toMap
            tm.keySet.diff(Set("field", "size")).foreach(k =>
              fail(s"unsupported _msearch terms option '$k' in request $i"))
            val f = strOpt(tm, "field")
              .getOrElse(fail(s"terms agg in request $i needs a field"))
            val sz = intOpt(tm, "size").getOrElse(10)
            if (sz < 1) fail(s"terms size must be >= 1 in request $i")
            TermsArm(i, f, sz, pred)
          case List((metric @ ("value_count" | "sum" | "min" | "max" | "avg"),
              JObject(b))) =>
            val bm = b.toMap
            bm.keySet.diff(Set("field")).foreach(k =>
              fail(s"unsupported _msearch $metric option '$k' in request $i"))
            val f = strOpt(bm, "field")
              .getOrElse(fail(s"$metric in request $i needs a field"))
            if (metric == "sum" || metric == "avg")
              integral(f, s"_msearch $metric (request $i)")
            val x = when(pred, col(f))
            val v = metric match {
              case "value_count" => count(x).cast("double")
              case "sum"         => coalesce(sum(x), lit(0L)).cast("double")
              case "min"         => min(x).cast("double")
              case "max"         => max(x).cast("double")
              case "avg" =>
                val n = count(x)
                when(n === 0L, lit(null).cast("double"))
                  .otherwise(sum(x).cast("double") / n.cast("double"))
            }
            MetricArm(i, name, v)
          case _ => fail(s"_msearch request $i agg must be terms or a " +
            "single-value metric (value_count/sum/min/max/avg)")
        }
      } else if (m.contains("_source")) {
        val idF = m("_source") match {
          case JArray(List(JString(id), JString("score"))) => id
          case other => fail(s"_msearch hit body $i _source must be " +
            s"""[<id field>, "score"]: ${render(other)}""")
        }
        integral(idF, s"_msearch hits (request $i) id")
        m.get("sort").foreach {
          case JArray(List(JObject(List(("_score", JString("desc")))),
            JString(f))) if f == idF => ()
          case other => fail(s"_msearch hit body $i sort must be omitted " +
            s"""or [{"_score": "desc"}, "$idF"]: ${render(other)}""")
        }
        val sz = m.get("size") match {
          case None                                   => 10
          case Some(JInt(n)) if n >= 1 && n <= 10000  => n.toInt
          case Some(other) =>
            fail(s"_msearch hit size must be in [1, 10000]: ${render(other)}")
        }
        val cq = compileQuery(m.getOrElse("query",
          fail(s"_msearch hit body $i needs a query")))
        HitArm(i, idF, cq.pred, cq.score, sz)
      } else {
        if (m.contains("size") || m.contains("sort"))
          fail(s"_msearch count body $i takes a query only")
        CountArm(i, pred)
      }
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // count + single-value metrics: ONE conditional-aggregate scan
    val scalarArms = arms.collect {
      case c: CountArm  =>
        (c.i, "count", "count", count(when(c.pred, 1L)).cast("double"))
      case ma: MetricArm => (ma.i, "agg", ma.name, ma.value)
    }
    if (scalarArms.nonEmpty) {
      val aggCols = scalarArms.zipWithIndex.map { case ((_, _, _, v), j) =>
        v.as(s"__v$j")
      }
      val row = table.agg(aggCols.head, aggCols.tail: _*)
      val pairs = scalarArms.zipWithIndex.map { case ((i, kind, key, _), j) =>
        struct(lit(i.toLong).as("req"), lit(kind).as("kind"),
          lit(0L).as("ord"), lit(key).as("key"), col(s"__v$j").as("value"))
      }
      out += row.select(explode(array(pairs: _*)).as("r")).select(col("r.*"))
    }

    // terms aggs: one groupBy scan per distinct field, all same-field
    // requests as conditional counts over it
    arms.collect { case t: TermsArm => t }.groupBy(_.field).toSeq
      .sortBy(_._1).foreach { case (field, group) =>
        import org.apache.spark.sql.expressions.Window
        val aggCols = group.map(t => count(when(t.pred, 1L)).as(s"__n${t.i}"))
        val g = table.groupBy(col(field).cast("string").as("__k"))
          .agg(aggCols.head, aggCols.tail: _*)
        // window bound: none — one row per distinct `field` value
        val ranked = group.foldLeft(g) { (d, t) =>
          d.withColumn(s"__r${t.i}", row_number().over(
            Window.orderBy(col(s"__n${t.i}").desc, col("__k"))).cast("long"))
        }
        val pairs = group.map { t =>
          struct(lit(t.i.toLong).as("req"), lit("terms").as("kind"),
            col(s"__r${t.i}").as("ord"), col("__k").as("key"),
            col(s"__n${t.i}").cast("double").as("value"),
            (col(s"__n${t.i}") > 0L &&
              col(s"__r${t.i}") <= lit(t.size.toLong)).as("keep"))
        }
        out += ranked.select(explode(array(pairs: _*)).as("r"))
          .filter(col("r.keep"))
          .select(col("r.req").as("req"), col("r.kind").as("kind"),
            col("r.ord").as("ord"), col("r.key").as("key"),
            col("r.value").as("value"))
      }

    // hit bodies: one scored scan, bounded-heap top-k per request
    val hitArms = arms.collect { case h: HitArm => h }
    if (hitArms.nonEmpty) {
      val maxK = hitArms.map(_.size).max
      val topk = F.udaf(new graft.functions.Aggregators.SmallestKByKey(maxK),
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      val entries = hitArms.map(h =>
        struct(lit(h.i.toLong).as("req"), h.pred.as("p"),
          h.score.cast("long").as("s"), col(h.idField).cast("long").as("id")))
      val matched = table
        .select(explode(array(entries: _*)).as("e"))
        .filter(col("e.p"))
        .select(col("e.req").as("req"), (-col("e.s")).as("nk"),
          col("e.id").as("id"))
      val sizeOf = hitArms.tail.foldLeft(
        when(col("req") === lit(hitArms.head.i.toLong),
          lit(hitArms.head.size.toLong))) { (acc, h) =>
        acc.when(col("req") === lit(h.i.toLong), lit(h.size.toLong))
      }
      out += matched.groupBy(col("req"))
        .agg(topk(col("nk"), col("id")).as("picks"))
        .select(col("req"), posexplode(col("picks")))
        .filter(col("pos") < sizeOf)
        .select(col("req"), lit("hit").as("kind"),
          (col("pos") + 1).cast("long").as("ord"),
          col("col._2").cast("string").as("key"),
          (-col("col._1")).cast("double").as("value"))
    }

    out.reduce(_.unionByName(_)).orderBy(col("req"), col("ord"), col("key"))
  }

  // ------------------------------------------------ PIT wire surface

  /** Open wire handles: id → pinned alias version. Driver-side state,
    * like [[graft.etl.IndexAlias]]'s pin table it fronts.
    */
  private[search] val pitHandles = new java.util.concurrent.ConcurrentHashMap[
    String, graft.etl.IndexAlias.Pit]()
  private[search] val pitCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `POST /{index}/_search/point_in_time` analog: resolve the alias
    * ONCE, pin that physical version, return the opaque wire id a
    * `{"pit": {"id": ...}}` request section names. Every later
    * [[searchPit]] page serves from the pinned version, so deep
    * pagination is disjoint and complete even when a reindex cuts the
    * alias over mid-session — and the pin shields the version from
    * `IndexAlias.prune` until [[closePit]].
    */
  def openPit(spark: SparkSession, aliasDir: String): String = {
    val pit = graft.etl.IndexAlias.openPit(spark, aliasDir)
    val id = s"pit-${pitCounter.incrementAndGet()}-${pit.version}"
    pitHandles.put(id, pit): Unit
    id
  }

  /** `DELETE /_pit` analog: release the pin. Unknown or double close
    * fails loud (a silently-absorbed double close hides a session-
    * management bug).
    */
  def closePit(id: String): Unit = {
    val pit = Option(pitHandles.remove(id)).getOrElse(
      fail(s"unknown pit id '$id' (already closed?)"))
    graft.etl.IndexAlias.releasePit(pit)
  }

  /** A `_search` request against a PINNED index version — the wire
    * form of [[graft.etl.IndexAlias.bm25Page]]. The body carries the
    * `pit` section (so no table/alias argument: the pit id IS the
    * target, the OpenSearch contract), a `bm25` query arm with the
    * raw terms, and optionally `search_after` ([last score, last
    * doc_id] — the ranking's keyset cursor) + `size`.
    */
  def searchPit(spark: SparkSession, requestJson: String): DataFrame = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"request body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("pit", "query", "search_after", "size")).foreach(k =>
      fail(s"unsupported pit-request key '$k'"))
    val pit = req.get("pit") match {
      case Some(JObject(p)) =>
        p.toMap.get("id") match {
          case Some(JString(id)) => Option(pitHandles.get(id)).getOrElse(
            fail(s"unknown pit id '$id' (already closed?)"))
          case _ => fail("pit requires {\"id\": <string>}")
        }
      case _ => fail("searchPit requires a pit section ({\"pit\": {\"id\": ...}})")
    }
    val terms = req.get("query") match {
      case Some(JObject(List(("bm25", JObject(b))))) =>
        b.toMap.get("terms") match {
          case Some(JArray(ts)) if ts.nonEmpty => ts.map {
            case JString(t) => t
            case other => fail(s"bm25 terms must be strings: ${render(other)}")
          }
          case _ => fail("bm25 requires a non-empty terms array")
        }
      case _ => fail("pit search supports {\"query\": {\"bm25\": {\"terms\": [...]}}}")
    }
    val k = req.get("size") match {
      case None          => 10
      case Some(JInt(n)) if n >= 1 => n.toInt
      case Some(other)   => fail(s"size must be a positive integer: ${render(other)}")
    }
    val after: Option[(Double, Long)] = req.get("search_after") match {
      case None => None
      case Some(JArray(List(s, JInt(id)))) =>
        val score = s match {
          case JDouble(d)  => d
          case JInt(i)     => i.toDouble
          case JDecimal(d) => d.toDouble
          case other => fail(s"search_after score must be numeric: ${render(other)}")
        }
        Some((score, id.toLong))
      case Some(other) => fail("pit search_after must be [last score, last " +
        s"doc_id]: ${render(other)}")
    }
    graft.etl.IndexAlias.bm25Page(spark, pit, terms, k, after)
  }

  /** Plain `_search` served from a BUILT [[graft.etl.SearchIndex]] —
    * the `SEARCH` collection's core contract (reference stack
    * `lib/opensearch-dynamodb-etl-cdk-stack.ts:90-91`): a user posting
    * `{"query": {"match": ...}}` against an index gets REAL BM25
    * relevance order, not the table path's integer term overlap. The
    * opt-in knob `"similarity": "bm25"` in the match options makes the
    * ranking model explicit in the request body (the table-path match
    * scores exact-integer overlap — the documented divergence; this is
    * the indexed escape hatch that closes it).
    *
    * `index` is a physical index dir OR an [[graft.etl.IndexAlias]]
    * dir (resolved to its active version — the zero-downtime-reindex
    * read path). The query text is analyzed through the INDEX's own
    * stored analyzer inside [[graft.etl.SearchIndex.bm25]] (build- and
    * serve-side tokenization can never drift), and the scoring replays
    * q44's float-op order bit-for-bit, so this endpoint shares the
    * q103 oracle family. Each term's document frequency rides on its
    * posting rows, the stats row is the one entry held per index
    * version on the driver, and the plan reads only the postings
    * leaves the terms route to — the corpus is never scanned
    * (SearchIndexSpec pins it).
    *
    * Request surface: `query.match` (single field — the index carries
    * exactly one analyzed text field, so the field name documents the
    * caller's intent rather than routing), `size`, keyset
    * `search_after: [last_score, last_doc_id]`. Everything the indexed
    * ranking cannot honor fails loud: `from` (deep paging is keyset
    * here), explicit `sort` other than the ranking's own
    * `[{"_score": "desc"}, "doc_id"]`, a request-level `analyzer`
    * (the index's sidecar owns analysis), match options that belong to
    * the overlap model (operator / minimum_should_match / fuzziness).
    * Output: (doc_id, score) ranked score desc, doc_id asc.
    */
  def searchIndexed(spark: SparkSession, index: String,
      requestJson: String): DataFrame = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"request body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("query", "size", "search_after", "sort", "_source"))
      .foreach(k => fail(s"unsupported indexed-search request key '$k' " +
        "(the indexed hit path serves match ranking only)"))
    val (field, opts) = req.get("query") match {
      case Some(JObject(List(("match", JObject(List((f, JObject(o)))))))) =>
        (f, o.toMap)
      case Some(JObject(List(("match", _)))) =>
        fail("indexed match needs the object form: " +
          """{"match": {field: {"query": ..., "similarity": "bm25"}}}""")
      case _ => fail("indexed search requires {\"query\": {\"match\": ...}}")
    }
    opts.keySet.diff(Set("query", "similarity")).foreach {
      case k @ ("operator" | "minimum_should_match" | "fuzziness" |
                "prefix_length" | "analyzer" | "zero_terms_query") =>
        fail(s"indexed match does not take '$k' — the BM25 index path " +
          "ranks analyzed terms by relevance (the overlap-model options " +
          "belong to the table path), and analysis comes from the index " +
          "sidecar")
      case k => fail(s"unsupported indexed match option '$k' on field '$field'")
    }
    strOpt(opts, "similarity") match {
      case Some("bm25") => ()
      case Some(other)  => fail(s"unsupported similarity '$other' " +
        "(the indexed hit path ranks bm25)")
      case None => fail("indexed match requires the opt-in " +
        "\"similarity\": \"bm25\" knob — the ranking model is part of " +
        "the request contract")
    }
    val qtext = strOpt(opts, "query")
      .getOrElse(fail(s"indexed match on '$field' needs a query string"))
    val size = req.get("size") match {
      case None                    => 10
      case Some(JInt(n)) if n >= 1 => n.toInt
      case Some(other) => fail(s"size must be a positive integer: ${render(other)}")
    }
    // the only sort the indexed ranking can serve IS its own total
    // order; accept it spelled out (request replayability) or omitted
    req.get("sort").foreach {
      case JArray(List(JObject(List(("_score", JString("desc")))), JString(id)))
        if id == "doc_id" => ()
      case other => fail("indexed search sort must be omitted or exactly " +
        s"""[{"_score": "desc"}, "doc_id"]: ${render(other)}""")
    }
    req.get("_source").foreach {
      case JArray(List(JString("doc_id"), JString("score"))) => ()
      case other => fail("indexed search _source must be omitted or exactly " +
        s"""["doc_id", "score"]: ${render(other)}""")
    }
    val after: Option[(Double, Long)] = req.get("search_after") match {
      case None => None
      case Some(JArray(List(s, JInt(id)))) =>
        val score = s match {
          case JDouble(d)  => d
          case JInt(i)     => i.toDouble
          case JDecimal(d) => d.toDouble
          case other => fail(s"search_after score must be numeric: ${render(other)}")
        }
        Some((score, id.toLong))
      case Some(other) => fail("search_after must be [last score, last " +
        s"doc_id]: ${render(other)}")
    }
    val dir = graft.etl.IndexAlias.resolve(spark, index).getOrElse(index)
    graft.etl.SearchIndex.bm25(spark, dir, Seq(qtext), topK = size,
      after = after)
  }

  /** `_rank_eval` endpoint: search-quality metrics for a suite of
    * RATED requests — the relevance-regression harness OpenSearch
    * ships (`POST _rank_eval`). Each entry carries a full `_search`
    * request plus document ratings; the metric is `precision` at k
    * (with `relevant_rating_threshold`, default 1) or
    * `mean_reciprocal_rank` at k. Every inner request must declare an
    * explicit total `sort` and project `id_field` (determinism — an
    * unordered ranking has no measurable quality), and k documents
    * per request is WIRE METADATA: the corpus-sized ranking work runs
    * inside the compiled request, only the ≤k ids come back to the
    * driver where the metric arithmetic is exact (one IEEE divide per
    * metric value). Output: one row per request, `(req_id, <metric>)`
    * in request-id order.
    */
  def rankEval(table: DataFrame, requestJson: String): DataFrame = {
    val req = parse(requestJson) match {
      case o: JObject => o.obj.toMap
      case other      => fail(s"rank_eval body must be an object: ${render(other)}")
    }
    req.keySet.diff(Set("requests", "metric", "id_field")).foreach(k =>
      fail(s"unsupported rank_eval key '$k'"))
    val idField = strOpt(req, "id_field")
      .getOrElse(fail("rank_eval requires id_field (the document id column)"))
    val (metricName, k, threshold) = req.get("metric") match {
      case Some(JObject(List(("precision", JObject(m))))) =>
        val mm = m.toMap
        mm.keySet.diff(Set("k", "relevant_rating_threshold")).foreach(kk =>
          fail(s"unsupported precision option '$kk'"))
        ("precision", intOpt(mm, "k").getOrElse(10),
          intOpt(mm, "relevant_rating_threshold").getOrElse(1))
      case Some(JObject(List(("mean_reciprocal_rank", JObject(m))))) =>
        val mm = m.toMap
        mm.keySet.diff(Set("k", "relevant_rating_threshold")).foreach(kk =>
          fail(s"unsupported mean_reciprocal_rank option '$kk'"))
        ("mrr", intOpt(mm, "k").getOrElse(10),
          intOpt(mm, "relevant_rating_threshold").getOrElse(1))
      case Some(JObject(List(("recall", JObject(m))))) =>
        val mm = m.toMap
        mm.keySet.diff(Set("k", "relevant_rating_threshold")).foreach(kk =>
          fail(s"unsupported recall option '$kk'"))
        ("recall", intOpt(mm, "k").getOrElse(10),
          intOpt(mm, "relevant_rating_threshold").getOrElse(1))
      case _ => fail("rank_eval metric must be {precision: {...}}, " +
        "{recall: {...}} or {mean_reciprocal_rank: {...}}")
    }
    if (k < 1) fail("rank_eval k must be >= 1")
    val entries: Seq[(String, Double)] = req.get("requests") match {
      case Some(JArray(rs)) if rs.nonEmpty => rs.map {
        case JObject(eparts) =>
          val em = eparts.toMap
          em.keySet.diff(Set("id", "request", "ratings")).foreach(kk =>
            fail(s"unsupported rank_eval request key '$kk'"))
          val rid = strOpt(em, "id")
            .getOrElse(fail("rank_eval requests need a string id"))
          val inner = em.getOrElse("request",
            fail(s"rank_eval '$rid' needs a request"))
          inner match {
            case JObject(ip) =>
              val im = ip.toMap
              if (!im.contains("sort"))
                fail(s"rank_eval '$rid' request needs an explicit sort " +
                  "(an unordered ranking has no measurable quality)")
              im.get("_source") match {
                case Some(JArray(List(JString(f)))) if f == idField => ()
                case _ => fail(s"rank_eval '$rid' request must project " +
                  s"""_source: ["$idField"] alone""")
              }
            case other => fail(s"rank_eval '$rid' request must be an object: " +
              render(other))
          }
          val relevant: Set[Any] = em.get("ratings") match {
            case Some(JArray(rats)) if rats.nonEmpty => rats.map {
              case JObject(rp) =>
                val rm = rp.toMap
                rm.keySet.diff(Set(idField, "rating")).foreach(kk =>
                  fail(s"unsupported rating key '$kk' in '$rid'"))
                val doc = rm.getOrElse(idField,
                  fail(s"rank_eval '$rid' ratings need the $idField key"))
                val rating = rm.get("rating") match {
                  case Some(JInt(r)) => r.toInt
                  case _ => fail(s"rank_eval '$rid' ratings need an integer rating")
                }
                (scalaOf(doc), rating)
              case other => fail(s"ratings entries must be objects: ${render(other)}")
            }.collect { case (doc, r) if r >= threshold => doc }.toSet
            case _ => fail(s"rank_eval '$rid' requires a non-empty ratings array")
          }
          // the corpus-sized ranking runs inside the compiled request;
          // only the ≤k ids return (bounded wire metadata, the _mget
          // convention)
          val top = search(table, render(inner))
            .limit(k).collect().map(_.getAs[Any](idField)).toSeq
          val value = metricName match {
            // OpenSearch's precision divides by the RETRIEVED count in
            // the top-k window, not by k — a sparse query returning 3
            // hits with 3 relevant scores 1.0, not 0.3 (zero hits → 0)
            case "precision" =>
              if (top.isEmpty) 0.0
              else top.count(relevant.contains).toDouble / top.size
            // recall divides by the TOTAL relevant count in the
            // ratings; a request rating nothing relevant makes recall
            // undefined — fail loud, never a silent 0
            case "recall" =>
              if (relevant.isEmpty)
                fail(s"rank_eval '$rid': recall needs at least one " +
                  "relevant rating")
              top.count(relevant.contains).toDouble / relevant.size
            case _ =>
              top.zipWithIndex.collectFirst {
                case (id, i) if relevant.contains(id) => 1.0 / (i + 1)
              }.getOrElse(0.0)
          }
          (rid, value)
        case other => fail(s"rank_eval requests must be objects: ${render(other)}")
      }
      case _ => fail("rank_eval requires a non-empty requests array")
    }
    if (entries.map(_._1).distinct.size != entries.size)
      fail("rank_eval request ids must be unique")
    val spark = table.sparkSession
    import spark.implicits._
    entries.sortBy(_._1).toDF("req_id", metricName)
  }

}
