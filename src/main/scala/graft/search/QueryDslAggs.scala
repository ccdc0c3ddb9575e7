package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Aggregation compiler half of [[QueryDsl]]: `compileAggs`, every
  * bucket/metric agg, and the pipeline-agg (series) compiler.
  */
private[search] trait QueryDslAggs { this: QueryDsl.type =>

  // ----------------------------------------------------------------- aggs

  /** Compile the `aggs` object over the (already filtered) hits.
    *
    * One bucket agg (`terms` | `histogram` | `date_histogram`) with
    * metric sub-aggs compiles to a single groupBy (one shuffle, partial
    * aggregation map-side); metric-only aggs compile to a one-row global
    * aggregate. Bucket output: the key column (named after the agg),
    * `doc_count`, then sub-agg columns named `<aggName>_<metric>` for
    * `stats` / `<aggName>` otherwise — ordered doc_count desc, key asc
    * (the OpenSearch terms default, made total).
    */
  def compileAggs(table: DataFrame, hits: DataFrame, pred: Column,
      aggs: JValue): DataFrame = {
    val entries = aggs match {
      case JObject(es) if es.nonEmpty => es
      case other => fail(s"aggs must be a non-empty object: ${render(other)}")
    }
    // Sibling pipeline aggs (`<stat>_bucket`): a scalar over a sibling
    // bucket agg's series — `{"total": {"sum_bucket": {"buckets_path":
    // "hist>_count"}}}` next to `"hist"`. The request returns the
    // ONE-ROW sibling table (one column per sibling agg); the bucket
    // series itself is an intermediate. Computed by aggregating the
    // bounded bucket table — no second corpus pass.
    val siblingKinds = Set("avg_bucket", "sum_bucket", "min_bucket",
      "max_bucket", "stats_bucket", "extended_stats_bucket",
      "percentiles_bucket")
    val (siblingAggs, entries2) = entries.partition {
      case (_, JObject(List((k, _)))) => siblingKinds.contains(k)
      case _ => false
    }
    if (siblingAggs.nonEmpty) {
      val bucketEntries = entries2
      if (bucketEntries.size != 1)
        fail("sibling *_bucket aggs require exactly one sibling bucket agg")
      val (bucketName, _) = bucketEntries.head
      val bucketDf = compileAggs(table, hits, pred, JObject(bucketEntries))
      val cols = siblingAggs.flatMap { case (name, spec) =>
        val (kind, body) = spec match {
          case JObject(List((k, JObject(b)))) => (k, b.toMap)
          case other => fail(s"sibling agg '$name' must be {kind: {buckets_path}}: ${render(other)}")
        }
        val allowedSib =
          if (kind == "percentiles_bucket") Set("buckets_path", "percents")
          else Set("buckets_path")
        body.keySet.diff(allowedSib).foreach(k =>
          fail(s"unsupported $kind option '$k' in '$name'"))
        val path = strOpt(body, "buckets_path")
          .getOrElse(fail(s"sibling agg '$name' needs a buckets_path"))
        val target = path.split(">") match {
          case Array(b, p) if b == bucketName =>
            resolveBucketColumn(bucketDf, s"sibling agg '$name'", p)
          case Array(b, _) =>
            fail(s"sibling agg '$name' buckets_path names unknown bucket '$b' " +
              s"(have: $bucketName)")
          case _ => fail(s"sibling agg '$name' buckets_path must be " +
            s"'<bucket>><metric>': '$path'")
        }
        val c = col(target)
        kind match {
          case "avg_bucket" => Seq((sum(c).cast("double") / count(c)).as(name))
          case "sum_bucket" => Seq(sum(c).as(name))
          case "min_bucket" => Seq(min(c).as(name))
          case "max_bucket" => Seq(max(c).as(name))
          case "stats_bucket" => Seq(
            count(c).as(s"${name}_count"),
            min(c).as(s"${name}_min"),
            max(c).as(s"${name}_max"),
            (sum(c).cast("double") / count(c)).as(s"${name}_avg"),
            sum(c).as(s"${name}_sum"))
          // extended_stats_bucket: the exact-moment recipe over the
          // BOUNDED bucket series (n·Σx²−(Σx)² stays exact for the
          // integral series the oracles use; one IEEE divide per
          // derived double, variance's sqrt last)
          case "extended_stats_bucket" =>
            val n = count(c)
            val s2 = sum(c)
            val q2 = sum(c * c)
            val variance = (n * q2 - s2 * s2).cast("double") /
              (n * n).cast("double")
            Seq(
              n.as(s"${name}_count"),
              min(c).as(s"${name}_min"),
              max(c).as(s"${name}_max"),
              (s2.cast("double") / n).as(s"${name}_avg"),
              s2.as(s"${name}_sum"),
              q2.as(s"${name}_sum_of_squares"),
              variance.as(s"${name}_variance"),
              sqrt(variance).as(s"${name}_std_deviation"))
          // percentiles_bucket: exact discrete percentiles over the
          // bucket series (OpenSearch's own percentiles_bucket is
          // already exact — it holds the whole series — so unlike
          // `percentiles` this is NOT a divergence); one `<name>_p<p>`
          // column per percent, the element keeps its exact type
          case "percentiles_bucket" =>
            val percents = body.get("percents") match {
              case Some(JArray(ps)) if ps.nonEmpty => ps.map {
                case JInt(i) if i > 0 && i < 100 => i.toInt
                case other =>
                  fail(s"percents must be integers in (0,100): ${render(other)}")
              }
              case None        => Seq(1, 5, 25, 50, 75, 95, 99)
              case Some(other) => fail(s"percents must be an array: ${render(other)}")
            }
            percents.map(p => expr(
              s"percentile_disc(${p / 100.0}) WITHIN GROUP (ORDER BY `$target`)")
              .as(s"${name}_p$p"))
        }
      }
      return bucketDf.agg(cols.head, cols.tail: _*)
    }
    // Split bucket aggs from metric aggs.
    val (bucketAggs, metricAggs) = entries.partition {
      case (_, JObject(spec)) =>
        spec.exists(p => Set("terms", "histogram", "date_histogram", "range",
          "date_range", "rare_terms", "significant_terms", "filters",
          "composite", "adjacency_matrix", "matrix_stats", "geo_grid",
          "geohash_grid", "geotile_grid", "missing", "multi_terms",
          "auto_date_histogram", "global",
          "filter", "significant_text", "sampler", "diversified_sampler",
          "children", "parent", "geo_distance", "variable_width_histogram",
          "string_stats", "ip_range", "ip_prefix", "nested").contains(p._1))
      case _ => false
    }
    if (bucketAggs.size > 1)
      fail("at most one bucket agg per request (compose composite queries instead)")

    bucketAggs.headOption match {
      case Some((name, JObject(spec))) =>
        if (metricAggs.nonEmpty)
          fail("mixing a bucket agg with top-level metric aggs is unsupported")
        val m = spec.toMap
        val kinds = m.keySet.intersect(Set("terms", "histogram",
          "date_histogram", "range", "date_range", "rare_terms",
          "significant_terms", "filters", "composite", "adjacency_matrix",
          "matrix_stats", "geo_grid", "geohash_grid", "geotile_grid",
          "missing", "multi_terms",
          "auto_date_histogram", "global", "filter", "significant_text",
          "sampler", "diversified_sampler", "children", "parent",
          "geo_distance", "variable_width_histogram",
          "string_stats", "ip_range", "ip_prefix", "nested"))
        if (kinds.size > 1)
          fail(s"agg '$name' declares multiple bucket kinds: " +
            kinds.toSeq.sorted.mkString(", "))
        // entry-level keys are the kind + its sub-agg section — a
        // stray sibling (e.g. the long-form "aggregations" spelling,
        // which is ROOT-only by design, or a typo'd option landing a
        // level too high) must never be silently ignored
        m.keySet.diff(kinds + "aggs").foreach(k =>
          fail(s"unsupported agg entry key '$k' in '$name' (the nested " +
            "sub-agg section spells `aggs`)"))
        m.get("nested").foreach { n =>
          return nestedAgg(hits, name, n, m.get("aggs"))
        }
        m.get("range").foreach { r => return rangeAgg(hits, name, r, m.get("aggs")) }
        m.get("ip_range").foreach { r =>
          return ipRangeAgg(hits, name, r, m.get("aggs"))
        }
        m.get("date_range").foreach { r =>
          return dateRangeAgg(hits, name, r, m.get("aggs"))
        }
        m.get("rare_terms").foreach { r =>
          if (m.contains("aggs")) fail("rare_terms takes no sub-aggs")
          return rareTermsAgg(hits, name, r)
        }
        m.get("adjacency_matrix").foreach { a =>
          return adjacencyMatrixAgg(hits, name, a, m.get("aggs"))
        }
        m.get("matrix_stats").foreach { ms =>
          if (m.contains("aggs")) fail("matrix_stats takes no sub-aggs")
          return matrixStatsAgg(hits, name, ms)
        }
        m.get("geo_grid").foreach { g =>
          return geoGridAgg(hits, name, g, m.get("aggs"))
        }
        m.get("geohash_grid").foreach { g =>
          return geohashGridAgg(hits, name, g, m.get("aggs"))
        }
        m.get("geotile_grid").foreach { g =>
          return geotileGridAgg(hits, name, g, m.get("aggs"))
        }
        m.get("geo_distance").foreach { gd =>
          return geoDistanceAgg(hits, name, gd, m.get("aggs"))
        }
        m.get("variable_width_histogram").foreach { vw =>
          return variableWidthHistogramAgg(hits, name, vw, m.get("aggs"))
        }
        m.get("ip_prefix").foreach { ip =>
          return ipPrefixAgg(hits, name, ip, m.get("aggs"))
        }
        m.get("diversified_sampler").foreach { ds =>
          return diversifiedSamplerAgg(hits, name, ds, m.get("aggs"))
        }
        m.get("children").foreach { ch =>
          return relationSwitchAgg(table, hits, name, ch, m.get("aggs"),
            toChildren = true)
        }
        m.get("parent").foreach { pa =>
          return relationSwitchAgg(table, hits, name, pa, m.get("aggs"),
            toChildren = false)
        }
        m.get("missing").foreach { ms =>
          return missingAgg(hits, name, ms, m.get("aggs"))
        }
        m.get("auto_date_histogram").foreach { ah =>
          return autoDateHistogramAgg(table, hits, name, ah, m.get("aggs"))
        }
        m.get("global").foreach { g =>
          // `global`: sub-aggs over the WHOLE corpus, ignoring the
          // request's query (the background-stats idiom) — one global
          // aggregate over `table`, not `hits`
          g match {
            case JObject(Nil) => ()
            case other => fail(s"global agg '$name' takes an empty object: " +
              render(other))
          }
          val subs: Seq[Column] = m.get("aggs") match {
            case None             => Nil
            case Some(JObject(s)) =>
              s.flatMap { case (n, sp) => metricCols(n, sp, schema = table.schema) }
            case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
          }
          return table.agg(count(lit(1)).as("doc_count"), subs: _*)
        }
        m.get("filter").foreach { fq =>
          // singular `filter` bucket: ONE named sub-query gating the
          // sub-aggs — a conditional global aggregate over the hit
          // set (the commonest single-bucket shape), no keyed shuffle
          val gate = compileQuery(fq).pred
          val subs: Seq[Column] = m.get("aggs") match {
            case None             => Nil
            case Some(JObject(s)) => s.flatMap { case (n, sp) => metricCols(n, sp, Some(gate), hits.schema) }
            case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
          }
          return hits.agg(count(when(gate, 1L)).as("doc_count"), subs: _*)
        }
        m.get("multi_terms").foreach { mt =>
          return multiTermsAgg(hits, name, mt, m.get("aggs"))
        }
        m.get("filters").foreach { fs =>
          return filtersAgg(hits, name, fs, m.get("aggs"))
        }
        m.get("composite").foreach { cs =>
          return compositeAgg(hits, name, cs, m.get("aggs"))
        }
        m.get("significant_terms").foreach { s =>
          if (m.contains("aggs")) fail("significant_terms takes no sub-aggs")
          return significantTermsAgg(table, pred, name, s)
        }
        m.get("significant_text").foreach { s =>
          if (m.contains("aggs")) fail("significant_text takes no sub-aggs")
          return significantTextAgg(table, pred, name, s)
        }
        m.get("sampler").foreach { sp =>
          return samplerAgg(hits, name, sp, m.get("aggs"))
        }
        m.get("string_stats").foreach { ss =>
          if (m.contains("aggs")) fail("string_stats takes no sub-aggs")
          return stringStatsAgg(hits, name, ss)
        }
        // terms-in-terms: ONE nested terms bucket sub-agg → the
        // two-level bucket table (the most common real-world agg
        // shape: break each top-level bucket down by a second field).
        val nestedTermsSub: Option[(String, Map[String, JValue])] =
          m.get("aggs") match {
            case Some(JObject(s)) => s.collectFirst {
              case (subName, JObject(spec)) if spec.exists(_._1 == "terms") =>
                (subName, spec.toMap)
            }
            case _ => None
          }
        nestedTermsSub.foreach { case (subName, innerSpec) =>
          m.get("aggs") match {
            case Some(JObject(s)) if s.size > 1 =>
              fail("a nested terms bucket must be the only sub-agg of its parent")
            case _ => ()
          }
          val (outerField, outerSize) = m.get("terms") match {
            case Some(JObject(t)) =>
              val tm = t.toMap
              tm.keySet.diff(Set("field", "size")).foreach(k =>
                fail(s"unsupported terms option '$k' in '$name'"))
              (strOpt(tm, "field").getOrElse(fail(s"terms agg '$name' needs a field")),
                intOpt(tm, "size"))
            case _ => fail("sub-bucketing requires a terms parent " +
              "(histogram parents take pipeline aggs instead)")
          }
          return termsInTermsAgg(hits, name, outerField, outerSize,
            subName, innerSpec)
        }

        // terms bucket with a single top_hits sub-agg: per-bucket top
        // rows (window path), not a bucket table.
        val topHitsSub: Option[(String, JValue)] = m.get("aggs") match {
          case Some(JObject(s)) => s.collectFirst {
            case (subName, JObject(List(("top_hits", th)))) => (subName, th)
          }
          case _ => None
        }
        topHitsSub.foreach { case (_, th) =>
          m.get("aggs") match {
            case Some(JObject(s)) if s.size > 1 =>
              fail("top_hits must be the only sub-agg of its bucket")
            case _ => ()
          }
          val f = m.get("terms") match {
            case Some(JObject(t)) =>
              val tm = t.toMap
              // `missing`/`order`/`size` would be silently ignored on
              // this window path — reject rather than mis-serve
              tm.keySet.diff(Set("field")).foreach(k =>
                fail(s"unsupported terms option '$k' with a top_hits sub-agg"))
              strOpt(tm, "field")
                .getOrElse(fail(s"terms agg '$name' needs a field"))
            case _ => fail("top_hits requires a terms bucket")
          }
          return topHitsAgg(hits, name, f, th)
        }
        val subEntries: Seq[(String, JValue)] = m.get("aggs") match {
          case None             => Nil
          case Some(JObject(s)) => s
          case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
        }
        val pipelineKinds = Set("cumulative_sum", "derivative", "moving_avg",
          "moving_percentiles", "moving_fn", "serial_diff", "bucket_selector",
          "bucket_sort", "bucket_script", "normalize")
        val (pipeEntries, metricEntries) = subEntries.partition {
          case (_, JObject(List((kind, _)))) => pipelineKinds.contains(kind)
          case _ => false
        }
        // median_absolute_deviation is the ONE metric that cannot be
        // a single-pass aggregate column (the deviations need the
        // median first) — split it out and weave its per-key table
        // back in below
        val (madEntries, metricEntries1) = metricEntries.partition {
          case (_, JObject(List(("median_absolute_deviation", _)))) => true
          case _ => false
        }
        // cumulative_cardinality needs the corpus (first-occurrence
        // bucket per distinct value), not just the bucket table —
        // split like MAD and weave below
        val (ccEntries, metricEntries2) = metricEntries1.partition {
          case (_, JObject(List(("cumulative_cardinality", _)))) => true
          case _ => false
        }
        // rate: a per-unit normalization of a bucket aggregate — the
        // raw sum/count rides the ONE groupBy like any metric; the
        // divide by the bucket's span-in-units is woven onto the
        // bounded bucket table below (it needs the parent's interval)
        val (rateEntries, plainMetricEntries) = metricEntries2.partition {
          case (_, JObject(List(("rate", _)))) => true
          case _ => false
        }
        val rateSpecs: Seq[(String, Option[String], Option[String], String)] =
          rateEntries.map {
            case (subName, JObject(List(("rate", JObject(b))))) =>
              val bm = b.toMap
              bm.keySet.diff(Set("field", "unit", "mode")).foreach(k =>
                fail(s"unsupported rate option '$k' in '$subName'"))
              val fld = strOpt(bm, "field")
              val mode = strOpt(bm, "mode").getOrElse("sum")
              if (mode != "sum" && mode != "value_count")
                fail(s"rate mode must be sum|value_count, got '$mode'")
              if (fld.isEmpty && bm.contains("mode"))
                fail(s"rate '$subName': mode requires a field")
              // exact-model rule: a sum-mode rate keeps the numerator
              // an exact integer so the normalization is ONE pinned
              // IEEE multiply-divide (fractional fields pre-scale)
              fld.filter(_ => mode == "sum").foreach { f2 =>
                hits.schema.find(_.name == f2).map(_.dataType).foreach {
                  case org.apache.spark.sql.types.DoubleType |
                       org.apache.spark.sql.types.FloatType |
                       _: org.apache.spark.sql.types.DecimalType =>
                    fail(s"rate '$subName' on '$f2' requires an integral " +
                      "field (the exact sum model) - pre-scale to integers")
                  case _ => ()
                }
              }
              (subName, fld, strOpt(bm, "unit"), mode)
            case (subName, other) =>
              fail(s"rate '$subName' must be an object: ${render(other)}")
          }
        val rateRaw: Seq[Column] = rateSpecs.map {
          case (subName, fld, _, mode) => (fld, mode) match {
            case (Some(f2), "sum")         => sum(col(f2)).as(s"__rate_$subName")
            case (Some(f2), "value_count") => count(col(f2)).as(s"__rate_$subName")
            case (None, _)                 => count(lit(1)).as(s"__rate_$subName")
          }
        }
        val subs: Seq[Column] = plainMetricEntries.flatMap {
          case (subName, subSpec) => metricCols(subName, subSpec, schema = hits.schema)
        } ++ rateRaw
        val (keyCol, size, termsOrder, histoFill, preFilter, termsMinDoc) =
          m.collectFirst {
          case ("terms", JObject(t)) =>
            val tm = t.toMap
            tm.keySet.diff(Set("field", "size", "order", "missing",
              "include", "exclude", "min_doc_count")).foreach(k =>
              fail(s"unsupported terms option '$k' in '$name'"))
            // min_doc_count: drop buckets under the floor, BEFORE
            // ordering/size (the OpenSearch evaluation order) — a
            // bucket-table filter, the groupBy is unchanged. 0 (r14,
            // VERDICT r13 #5 — Kibana's "show empty buckets") builds
            // the term dictionary from the PRE-QUERY table (the
            // OpenSearch semantics: terms that exist in the index,
            // shown with doc_count 0 when the query filters them out)
            // and full-outer-joins it in — the dense-fill join shape.
            val tMdc = intOpt(tm, "min_doc_count")
            tMdc.foreach(n => if (n < 0) fail(
              s"terms min_doc_count must be >= 0, got $n"))
            val f0 = strOpt(tm, "field").getOrElse(fail(s"terms agg '$name' needs a field"))
            // `missing`: docs without a key value land in a named
            // bucket instead of a NULL key (the OpenSearch option) —
            // a plain coalesce, the groupBy stays one shuffle
            val f = tm.get("missing") match {
              case None    => col(f0)
              case Some(v) => coalesce(col(f0), litOf(v))
            }
            // `order`: rank buckets by a sub-metric, `_count` or
            // `_key` instead of the doc_count-desc default (the
            // OpenSearch terms `order` option) — still ONE groupBy,
            // the sort runs on the bounded bucket table
            def ordPair(target: String, dir: JValue): (String, Boolean) =
              dir match {
                case JString("asc")  => (target, true)
                case JString("desc") => (target, false)
                case other => fail(s"terms order must be asc/desc: ${render(other)}")
              }
            // object form = one criterion; ARRAY form = lexicographic
            // multi-criteria (the OpenSearch tie-break spelling)
            val ord: Option[Seq[(String, Boolean)]] = tm.get("order") match {
              case None => None
              case Some(JObject(List((target, dir)))) =>
                Some(Seq(ordPair(target, dir)))
              case Some(JArray(entries)) if entries.nonEmpty =>
                Some(entries.map {
                  case JObject(List((target, dir))) => ordPair(target, dir)
                  case other => fail(s"terms order array entries must be " +
                    s"{target: asc|desc}: ${render(other)}")
                })
              case Some(other) =>
                fail(s"terms order must be {target: asc|desc} or an array " +
                  s"of them: ${render(other)}")
            }
            // `include`/`exclude`: keep only wanted bucket keys — a
            // whole-value-anchored regex (the OpenSearch terms-regex
            // contract, like the `regexp` clause) or an exact-values
            // array. Applied to the KEY EXPRESSION on the hit rows,
            // i.e. BEFORE the groupBy — at scale the filter runs
            // map-side and shrinks the shuffle instead of post-
            // filtering the bucket table.
            // NULL keys: the gate predicate is NULL on a NULL key, so
            // a bare `!g` would silently drop the NULL-key bucket the
            // gate-less agg emits. An exclude list must KEEP it
            // (excluding 'x' says nothing about NULL); an include list
            // drops it (NULL matches no regex/value) — both
            // null-preserving forms stay map-side pushable.
            def keyGate(k: String, want: Boolean): Option[Column] =
              tm.get(k).map {
                case JString(re) =>
                  val g = f.cast("string").rlike(s"^(?:$re)$$")
                  if (want) g else f.isNull || !g
                case JArray(vs) if vs.nonEmpty =>
                  val g = f.isin(vs.map(scalaOf): _*)
                  if (want) g else f.isNull || !g
                case other => fail(s"terms $k must be a regex string or a " +
                  s"non-empty values array: ${render(other)}")
              }
            val gates = keyGate("include", want = true).toSeq ++
              keyGate("exclude", want = false)
            (f.as(name), intOpt(tm, "size"), ord, None,
              gates.reduceOption(_ && _), tMdc)
          case ("histogram", JObject(h)) =>
            val hm = h.toMap
            hm.keySet.diff(Set("field", "interval", "min_doc_count",
              "extended_bounds", "offset")).foreach(k =>
              fail(s"unsupported histogram option '$k' in '$name'"))
            val f = strOpt(hm, "field").getOrElse(fail(s"histogram agg '$name' needs a field"))
            val mdc = intOpt(hm, "min_doc_count").getOrElse(1)
            if (mdc != 0 && mdc != 1)
              fail(s"histogram min_doc_count must be 0 or 1, got $mdc")
            // `offset` shifts every bucket boundary: key =
            // floor((x − offset)/interval)·interval + offset — the
            // OpenSearch bucket-alignment knob (integer, in
            // [0, interval), exact arithmetic; float offsets fail loud)
            val offset: Long = hm.get("offset") match {
              case None         => 0L
              case Some(JInt(o)) =>
                if (o < 0) fail(s"histogram offset must be >= 0, got $o")
                o.toLong
              case Some(other) =>
                fail(s"histogram offset must be an integer: ${render(other)}")
            }
            val interval = hm.get("interval") match {
              case Some(JInt(i)) =>
                // zero/negative would silently key every doc NULL
                if (i <= 0) fail(s"histogram interval must be positive: $i")
                if (offset >= i.toLong)
                  fail(s"histogram offset must be < interval ($offset >= $i)")
                lit(i.toLong)
              case Some(JDouble(d)) =>
                if (mdc == 0)
                  fail("histogram min_doc_count: 0 requires an integer interval")
                if (d <= 0) fail(s"histogram interval must be positive: $d")
                if (offset != 0L)
                  fail("histogram offset requires an integer interval")
                lit(d)
              case _ => fail(s"histogram agg '$name' needs a numeric interval")
            }
            // min_doc_count: 0 — EMPTY BUCKETS APPEAR (doc_count 0,
            // metric sub-aggs NULL), so a sparse series stays dense
            // and derivative/moving_avg over it are correct; bounds
            // from extended_bounds (which only ever widens — data
            // buckets outside it survive via the outer join)
            val fillSpec: Option[HistoFill] =
              if (mdc == 0) {
                val iv = hm.get("interval") match {
                  case Some(JInt(i)) if i > 0 => i.toLong
                  case _ => fail("histogram min_doc_count: 0 requires a positive integer interval")
                }
                val bounds = hm.get("extended_bounds") match {
                  case None => None
                  case Some(JObject(b)) =>
                    val bm = b.toMap
                    bm.keySet.diff(Set("min", "max")).foreach(k =>
                      fail(s"unsupported extended_bounds key '$k'"))
                    (bm.get("min"), bm.get("max")) match {
                      case (Some(JInt(lo)), Some(JInt(hi))) if lo <= hi =>
                        // beyond-Long values would wrap via toLong and
                        // silently void the bounds AND the bucket cap
                        if (!lo.isValidLong || !hi.isValidLong)
                          fail("extended_bounds min/max must fit in a 64-bit long")
                        Some((lo.toLong, hi.toLong))
                      case _ => fail("extended_bounds needs integer min <= max")
                    }
                  case Some(other) =>
                    fail(s"extended_bounds must be an object: ${render(other)}")
                }
                Some(NumFill(f, iv, offset, bounds))
              } else {
                if (hm.contains("extended_bounds"))
                  fail("extended_bounds requires min_doc_count: 0")
                None
              }
            ((floor((col(f) - lit(offset)) / interval) * interval
              + lit(offset)).as(name), None, None, fillSpec, None, None)
          case ("date_histogram", JObject(h)) =>
            val hm = h.toMap
            hm.keySet.diff(Set("field", "calendar_interval", "fixed_interval",
              "time_zone", "min_doc_count", "extended_bounds", "offset"))
              .foreach(k =>
              fail(s"unsupported date_histogram option '$k' in '$name'"))
            val f = strOpt(hm, "field").getOrElse(fail(s"date_histogram agg '$name' needs a field"))
            if (hm.contains("calendar_interval") && hm.contains("fixed_interval"))
              fail(s"date_histogram '$name' takes calendar_interval OR fixed_interval")
            // min_doc_count / extended_bounds parse FIRST: a named
            // zone's transition window must cover the extended_bounds
            // span (buckets beyond the data need the offset in force
            // there), so both feed the zone resolution below.
            val dmdc = intOpt(hm, "min_doc_count").getOrElse(1)
            if (dmdc != 0 && dmdc != 1)
              fail(s"date_histogram min_doc_count must be 0 or 1, got $dmdc")
            val extBounds: Option[(Long, Long)] = hm.get("extended_bounds") match {
              case None => None
              case Some(JObject(b)) =>
                if (dmdc != 0)
                  fail("extended_bounds requires min_doc_count: 0")
                val bm = b.toMap
                bm.keySet.diff(Set("min", "max")).foreach(k =>
                  fail(s"unsupported extended_bounds key '$k'"))
                def us0(k: String): Long = bm.get(k) match {
                  case Some(JString(sv)) =>
                    val t = try DateMath.parseAnchor(sv)
                      catch { case e: IllegalArgumentException =>
                        fail(s"extended_bounds $k: ${e.getMessage}") }
                    t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
                      t.getNano / 1000L
                  case _ => fail("date_histogram extended_bounds needs " +
                    "ISO min and max strings")
                }
                val (blo, bhi) = (us0("min"), us0("max"))
                if (blo > bhi) fail("extended_bounds needs min <= max")
                Some((blo, bhi))
              case Some(other) =>
                fail(s"extended_bounds must be an object: ${render(other)}")
            }
            // `time_zone`: a FIXED ±HH:mm offset, a request-supplied
            // DST transition TABLE, or a NAMED IANA zone — bucket
            // boundaries align to local wall time, keys stay UTC
            // (shift → truncate → unshift, exact microsecond
            // arithmetic; the q208 epoch recipe).
            // The table form `{"transitions": [[iso_utc, offset_min],
            // …]}` is a piecewise-constant UTC→local offset function:
            // the LAST entry at-or-before the timestamp applies (the
            // first entry is the base offset, applying to all earlier
            // times too). A named zone ("America/New_York") resolves
            // ON THE DRIVER — JVM tzdb rules expanded over the hit
            // set's date span ([[zoneTransitionTable]]) — into that
            // same table, so the compiled request carries literal
            // transitions an oracle can replay; executors never call
            // a wall-clock library, and an unknown name fails loud,
            // never silently buckets in the wrong zone.
            // the resolution window for a named zone is the UNION of
            // the hit span and extended_bounds — a dense series
            // extended past the data needs the offsets in force out
            // there too
            val (tzOffUs, tzTransUs) = parseDhTimeZone("date_histogram",
              name, hm.get("time_zone"), {
                def usInstant(u: Long): java.time.Instant =
                  java.time.Instant.ofEpochSecond(Math.floorDiv(u, 1000000L),
                    Math.floorMod(u, 1000000L) * 1000L)
                val dataSpan = hitDateSpan(hits, f).map { case (a, b) =>
                  (a.toInstant(java.time.ZoneOffset.UTC),
                    b.toInstant(java.time.ZoneOffset.UTC)) }
                val boundSpan = extBounds.map { case (a, b) =>
                  (usInstant(a), usInstant(b)) }
                (dataSpan, boundSpan) match {
                  case (Some((a1, b1)), Some((a2, b2))) =>
                    (if (a1.isBefore(a2)) a1 else a2,
                      if (b1.isAfter(b2)) b1 else b2)
                  case (Some(sp), None) => sp
                  case (None, Some(sp)) => sp
                  // no dated hits: the bucket table is empty whatever
                  // offsets apply — a single base entry suffices
                  case (None, None) =>
                    (java.time.Instant.EPOCH, java.time.Instant.EPOCH)
                }
              })
            // `offset` shifts every bucket BOUNDARY ("+6h": day
            // buckets run 06:00→06:00 — the fiscal-day knob). The
            // algebra folds into the time-shift the time_zone path
            // already owns: trunc(t + tz − off) − (tz − off) ≡
            // trunc-with-boundaries-at-off, so ONE shifted-truncate
            // expression serves both knobs (and their composition)
            // with no new plan shape.
            val offUs: Long = strOpt(hm, "offset") match {
              case None => 0L
              case Some(o) =>
                val OffRe = """([+-]?)(\d+)([dhms])""".r
                o match {
                  case OffRe(sign, n, u) =>
                    val mult = u match {
                      case "d" => 86400L; case "h" => 3600L
                      case "m" => 60L;    case "s" => 1L
                    }
                    val v = n.toLong * mult * 1000000L
                    if (v > 86400000000L * 365L)
                      fail(s"date_histogram offset too large: '$o'")
                    if (sign == "-") -v else v
                  case _ => fail(s"date_histogram '$name': offset must " +
                    s"match [+-]<n>[dhms], got '$o'")
                }
            }
            val shiftUs = tzOffUs - offUs
            // fixed_interval: epoch bucketing ("7d"/"12h"/"30m"/
            // "45s") in EXACT MICROSECOND integer arithmetic —
            // pmod floor-aligns (a truncating % would shift every
            // pre-1970 timestamp's bucket by one interval, and a
            // second-truncating cast would disagree with the
            // oracle's rounding on fractional seconds); calendar-
            // aware buckets belong to calendar_interval
            val fixedUs: Option[Long] = strOpt(hm, "fixed_interval").map { iv =>
              val FixedRe = """(\d+)([dhms])""".r
              val secs = iv match {
                case FixedRe(n, u) =>
                  val mult = u match {
                    case "d" => 86400L; case "h" => 3600L
                    case "m" => 60L;    case "s" => 1L
                  }
                  val v = n.toLong * mult
                  if (v < 1L) fail(s"fixed_interval must be positive: '$iv'")
                  if (v > 3153600000L) // 100 years: micros stay in Long
                    fail(s"fixed_interval too large: '$iv'")
                  v
                case other =>
                  fail(s"fixed_interval must match <n>[dhms]: '$other'")
              }
              secs * 1000000L
            }
            // Transition-table bucketing follows the LOCAL-CALENDAR
            // rule (what a tzdb zone gives): truncate in local wall
            // time, and the key is the UTC INSTANT of the local bucket
            // boundary — so the local day containing a transition is
            // ONE bucket (23h/25h long in UTC), never split per-doc.
            // Two chained CASEs (codegen CSE dedups the repeats):
            //   off(u)  — doc offset: last entry with utc_ts ≤ u
            //             (descending `when`s, base as `otherwise`);
            //   off2(L) — boundary offset: last entry whose LOCAL
            //             activation (utc_ts + its offset) ≤ L.
            // Fall-back overlaps resolve to the LATER entry (first
            // descending match); a boundary landing in a spring-forward
            // gap maps with the pre-transition offset — both
            // deterministic and replayed verbatim by the oracle.
            def transCase(um: Column, tab: Seq[(Long, Long)]): Column =
              transOffsetCase(um, tab)
            val localTab: Option[Seq[(Long, Long)]] =
              tzTransUs.map(localActivationTable("date_histogram", name, _))
            val key = (fixedUs, tzTransUs) match {
              case (Some(us), None) =>
                val um = unix_micros(col(f)) + lit(shiftUs)
                val ivUs = lit(us)
                timestamp_micros(um - pmod(um, ivUs) - lit(shiftUs)).as(name)
              case (Some(us), Some(tab)) =>
                val um0 = unix_micros(col(f))
                val lShift = um0 + transCase(um0, tab) - lit(offUs)
                val lTrunc = lShift - pmod(lShift, lit(us)) + lit(offUs)
                timestamp_micros(lTrunc - transCase(lTrunc, localTab.get)).as(name)
              case (None, None) =>
                val unit = calendarUnit(
                  strOpt(hm, "calendar_interval").getOrElse("day"))
                if (shiftUs == 0L) date_trunc(unit, col(f)).as(name)
                else timestamp_micros(unix_micros(date_trunc(unit,
                  timestamp_micros(unix_micros(col(f)) + lit(shiftUs))))
                  - lit(shiftUs)).as(name)
              case (None, Some(tab)) =>
                val unit = calendarUnit(
                  strOpt(hm, "calendar_interval").getOrElse("day"))
                val um0 = unix_micros(col(f))
                val local = um0 + transCase(um0, tab)
                val lTrunc = unix_micros(date_trunc(unit,
                  timestamp_micros(local - lit(offUs)))) + lit(offUs)
                timestamp_micros(lTrunc - transCase(lTrunc, localTab.get)).as(name)
            }
            // min_doc_count: 0 — EMPTY TIME BUCKETS APPEAR (the
            // dashboard dense-series contract; pipeline aggs over a
            // sparse time series silently skip gaps without it).
            // fixed_interval with a constant offset generates the
            // series as exact range arithmetic (scales to any bucket
            // count); a calendar interval or a transition-table/named
            // time_zone has no constant UTC step, so bucket boundaries
            // are iterated in LOCAL wall time ON THE DRIVER
            // ([[localDenseKeys]]) into a ≤100k literal key series —
            // the Kibana-default request shape (named zone + calendar
            // day + dense fill) serves end to end.
            val dateFill: Option[HistoFill] =
              if (dmdc == 0) (fixedUs, tzTransUs) match {
                case (Some(us), None) =>
                  Some(DateFill(f, us, shiftUs, extBounds))
                case (stepOpt, tabOpt) =>
                  val step: Either[String, Long] = stepOpt match {
                    case Some(us) => Right(us)
                    case None => Left(calendarUnit(
                      strOpt(hm, "calendar_interval").getOrElse("day")))
                  }
                  // a fixed/absent zone is the one-entry constant table:
                  // the same local-frame iteration serves all four
                  // (step × zone-form) combinations
                  val constTab = Seq((Long.MinValue, tzOffUs))
                  val lTab = if (tabOpt.isDefined) localTab.get else constTab
                  // the series bounds, as already-truncated LOCAL
                  // boundaries. With a VARYING offset doc→lTrunc is NOT
                  // monotone in UTC — a doc just before a fall-back
                  // buckets ABOVE the span end's bucket (its boundary
                  // maps through the later entry), so truncating the
                  // span endpoints would leave interior HOLES in the
                  // dense series. The exact min/max doc boundary comes
                  // from ONE column-pruned aggregate over the compiled
                  // lTrunc expression — the same min/max the oracle's
                  // series replays. Constant offsets stay monotone, so
                  // the cached span endpoints remain exact there.
                  // the series spans the UNION of the data span and
                  // extended_bounds (r14 — the OpenSearch widening
                  // rule; formerly the bounds replaced the span, which
                  // left the gaps between out-of-bounds data buckets
                  // and the series edge unfilled)
                  val dataLt: Option[(Long, Long)] =
                    if (tabOpt.isEmpty)
                      hitDateSpan(hits, f).map { case (a, b) =>
                        def us2(t: java.time.LocalDateTime): Long =
                          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
                            t.getNano / 1000L
                        (lTruncOfUs(us2(a), step, offUs, constTab),
                          lTruncOfUs(us2(b), step, offUs, constTab))
                      }
                    else {
                      val tb = tabOpt.get
                      val dated = hits.filter(col(f).isNotNull)
                      val cacheKey =
                        s"${dated.queryExecution.analyzed.semanticHash()}#$f|" +
                          s"${stepOpt.getOrElse(strOpt(hm, "calendar_interval")
                            .getOrElse("day"))}|$offUs|${tb.hashCode}|" +
                          planFreshness(dated)
                      ltBoundsCache.get(cacheKey).getOrElse {
                        val um0 = unix_micros(col(f))
                        val ltCol = stepOpt match {
                          case Some(us) =>
                            val lShift = um0 + transCase(um0, tb) - lit(offUs)
                            lShift - pmod(lShift, lit(us)) + lit(offUs)
                          case None =>
                            val unit = calendarUnit(
                              strOpt(hm, "calendar_interval").getOrElse("day"))
                            val local = um0 + transCase(um0, tb)
                            unix_micros(date_trunc(unit,
                              timestamp_micros(local - lit(offUs)))) + lit(offUs)
                        }
                        val r = dated.agg(min(ltCol), max(ltCol)).head()
                        val v =
                          if (r.isNullAt(0)) None
                          else Some((r.getLong(0), r.getLong(1)))
                        ltBoundsCache.put(cacheKey, v)
                        v
                      }
                    }
                  val ltBounds: Option[(Long, Long)] = extBounds match {
                    case None => dataLt
                    case Some((blo, bhi)) =>
                      val tb = tabOpt.getOrElse(constTab)
                      val lo = lTruncOfUs(blo, step, offUs, tb)
                      val hi = lTruncOfUs(bhi, step, offUs, tb)
                      Some(dataLt match {
                        case Some((dlo, dhi)) =>
                          (math.min(lo, dlo), math.max(hi, dhi))
                        case None => (lo, hi)
                      })
                  }
                  val keys = ltBounds.map { case (s0, e0) =>
                    localDenseKeys(s0, e0, step, offUs, lTab)
                  }.getOrElse(Seq.empty)
                  Some(DateFillKeys(keys))
              } else None
            (key, None, None, dateFill, None, None)
        }.getOrElse(fail(s"bucket agg '$name' has no terms/histogram/date_histogram"))

        // include/exclude run on the HIT ROWS (map-side, before the
        // groupBy shuffle) — the filtered keys never enter the exchange
        val gated = preFilter.map(hits.filter).getOrElse(hits)
        val bucketTable0 = gated.groupBy(keyCol)
          .agg(count(lit(1)).as("doc_count"), subs: _*)
        val bucketTable = histoFill match {
          case None => bucketTable0
          case Some(DateFill(field, ivUs, tzOffUs, boundsOpt)) =>
            // the dense TIME series: same shape as the numeric fill,
            // keys in exact microsecond arithmetic aligned to the
            // (time-zone-shifted) fixed-interval boundaries
            def bucketOf(us: Long): Long =
              Math.floorDiv(us + tzOffUs, ivUs) * ivUs - tzOffUs
            // bounds ∪ data span (r14): same widening rule as the
            // numeric fill — interior gaps beside out-of-bounds data
            // buckets fill too
            val dataSpan: Option[(Long, Long)] = {
              val r = gated.filter(col(field).isNotNull)
                .agg(min(col(field)), max(col(field))).collect().head
              if (r.isNullAt(0)) None
              else {
                def us(i: Int): Long = {
                  val t = r.getTimestamp(i).toInstant
                  t.getEpochSecond * 1000000L + t.getNano / 1000L
                }
                Some((us(0), us(1)))
              }
            }
            val (lo0, hi0) = (boundsOpt, dataSpan) match {
              case (Some((blo, bhi)), Some((dlo, dhi))) =>
                (math.min(blo, dlo), math.max(bhi, dhi))
              case (Some(b), None) => b
              case (None, Some(d)) => d
              case (None, None)    => (0L, -1L)
            }
            val lo = bucketOf(lo0)
            val hi = bucketOf(hi0)
            val nBuckets =
              if (hi0 < lo0) 0L else math.max(0L, (hi - lo) / ivUs + 1)
            if (nBuckets > 100000)
              fail(s"date_histogram min_doc_count: 0 would emit $nBuckets " +
                "buckets (cap 100000) - widen the interval")
            val series = gated.sparkSession.range(nBuckets)
              .select(timestamp_micros(lit(lo) + col("id") * lit(ivUs)).as(name))
            series.join(bucketTable0.filter(col(name).isNotNull),
                Seq(name), "full_outer")
              .na.fill(0L, Seq("doc_count"))
          case Some(DateFillKeys(keys)) =>
            // the driver-iterated literal key series (calendar and/or
            // varying-offset buckets; ≤100k longs by the cap — a
            // bounded local relation, same join shape as the
            // range-generated series)
            val series = gated.sparkSession
              .createDataset(keys)(org.apache.spark.sql.Encoders.scalaLong)
              .select(timestamp_micros(col("value")).as(name))
            series.join(bucketTable0.filter(col(name).isNotNull),
                Seq(name), "full_outer")
              .na.fill(0L, Seq("doc_count"))
          case Some(NumFill(field, iv, off, boundsOpt)) =>
            // the dense key series: extended_bounds if given, else the
            // data's own [min, max] (a map-only 2-long aggregate over
            // hits to the driver — NOT a collect on the bucket table,
            // which would run its shuffle twice). Docs with a NULL
            // field are omitted (the null-key-omitted convention —
            // under Spark's NULLS-FIRST asc a NULL bucket would sit
            // at row 0 of the "dense" series and corrupt every
            // pipeline window over it). FULL OUTER join so data
            // buckets outside the bounds survive; empty buckets get
            // doc_count 0, sub-aggs NULL.
            // the series spans the UNION of the data span and
            // extended_bounds (r14, the OpenSearch fill contract:
            // bounds only ever WIDEN — data buckets outside them get
            // their interior gaps filled too, not just survival via
            // the outer join); the union costs one extra 2-long
            // column-pruned aggregate when bounds are given
            val dataSpan: Option[(Long, Long)] = {
              val r = gated.agg(min(col(field)), max(col(field))).collect().head
              if (r.isNullAt(0)) None
              else Some((r.getAs[Number](0).longValue,
                r.getAs[Number](1).longValue))
            }
            val (lo0, hi0) = (boundsOpt, dataSpan) match {
              case (Some((blo, bhi)), Some((dlo, dhi))) =>
                (math.min(blo, dlo), math.max(bhi, dhi))
              case (Some(b), None) => b
              case (None, Some(d)) => d
              case (None, None)    => (0L, -1L)
            }
            // the dense series aligns to the same shifted boundaries
            val lo = Math.floorDiv(lo0 - off, iv) * iv + off
            val hi = Math.floorDiv(hi0 - off, iv) * iv + off
            // hi0 < lo0 is the no-data sentinel: zero buckets, not one
            val nBuckets =
              if (hi0 < lo0) 0L else math.max(0L, (hi - lo) / iv + 1)
            if (nBuckets > 100000)
              fail(s"histogram min_doc_count: 0 would emit $nBuckets " +
                "buckets (cap 100000) - widen the interval")
            val series = gated.sparkSession.range(nBuckets)
              .select((lit(lo) + col("id") * lit(iv)).as(name))
            series.join(bucketTable0.filter(col(name).isNotNull),
                Seq(name), "full_outer")
              .na.fill(0L, Seq("doc_count"))
        }
        // MAD per-key tables join back on the bucket key (null-safe:
        // the NULL-key bucket keeps its deviation like any other) —
        // BEFORE ordering/pipeline aggs, so buckets_path can
        // reference the MAD column
        // terms min_doc_count: the bucket floor applies before
        // ordering/size (the OpenSearch evaluation order). 0 = the
        // dictionary-driven dense form: distinct keys of the
        // PRE-QUERY table (same include/exclude/missing gates, NULL
        // keys excluded — the NULL bucket rides the full_outer
        // unmatched, exactly as the query left it), cardinality-
        // capped fail-loud at 100k (the dense-series doctrine; the
        // probe is one column-pruned distinct). Empty terms surface
        // with doc_count 0 and NULL sub-metrics (the dense-fill
        // convention); ordering/size then apply to the joined table.
        val bucketTableMdc = termsMinDoc match {
          case Some(0) =>
            val dict = table
              .filter(preFilter.getOrElse(lit(true)))
              .select(keyCol)
              .filter(col(name).isNotNull)
              .distinct()
            if (dict.limit(100001).count() > 100000L)
              fail(s"terms min_doc_count: 0 would enumerate more than " +
                "100000 distinct terms (the dictionary cap) - filter " +
                "with include/exclude or raise min_doc_count")
            dict.join(bucketTable, Seq(name), "full_outer")
              .na.fill(0L, Seq("doc_count"))
          case Some(n) => bucketTable.filter(col("doc_count") >= n.toLong)
          case None    => bucketTable
        }
        val bucketTable1a = madEntries.foldLeft(bucketTableMdc) {
          case (bt, (subName, subSpec)) =>
            val madT = madTable(gated, keyCol, subName, subSpec)
              .withColumnRenamed("__mad_k", "__mad_kj")
            bt.join(madT, col(name) <=> col("__mad_kj"), "left")
              .drop("__mad_kj")
        }
        // cumulative_cardinality: EXACT distinct-seen-so-far per
        // key-ordered bucket (OpenSearch serves an HLL approximation —
        // the q7 divergence doctrine, except here the exact form IS
        // cross-engine oracle-able). The corpus work is ONE groupBy on
        // the value domain (min bucket per distinct value — the same
        // cost class as the cardinality it generalizes), collapsing to
        // a bucket-count-bounded (first_bucket → new_values) table;
        // the running total is then a window over the BOUNDED bucket
        // series. Key-ordered parents only.
        val bucketTable1 = {
          if (ccEntries.nonEmpty && !m.contains("histogram") &&
              !m.contains("date_histogram"))
            fail("cumulative_cardinality requires a histogram or " +
              "date_histogram parent (it is a running total in key order)")
          ccEntries.foldLeft(bucketTable1a) {
            case (bt, (subName, subSpec)) =>
              val body = subSpec match {
                case JObject(List(("cumulative_cardinality", JObject(b)))) => b.toMap
                case other => fail(s"cumulative_cardinality '$subName' must " +
                  s"be an object: ${render(other)}")
              }
              body.keySet.diff(Set("field")).foreach(k =>
                fail(s"unsupported cumulative_cardinality option '$k' in '$subName'"))
              val f = strOpt(body, "field")
                .getOrElse(fail(s"cumulative_cardinality '$subName' needs a field"))
              val perK = gated
                .select(keyCol.as("__cc_k"), col(f).as("__cc_v"))
                .filter(col("__cc_v").isNotNull && col("__cc_k").isNotNull)
                .groupBy(col("__cc_v")).agg(min(col("__cc_k")).as("__cc_k"))
                .groupBy(col("__cc_k")).agg(count(lit(1)).as("__cc_n"))
              import org.apache.spark.sql.expressions.Window
              // window bound: the histogram's bucket count, capped (100k) only under min_doc_count 0
              bt.join(perK, col(name) <=> col("__cc_k"), "left")
                .drop("__cc_k")
                .withColumn(subName,
                  sum(coalesce(col("__cc_n"), lit(0L)))
                    .over(Window.orderBy(col(name).asc)
                      .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
                .drop("__cc_n")
          }
        }
        // rate: normalize each raw bucket aggregate to a per-`unit`
        // rate — numerator (exact integer sum/count) and denominator
        // (the bucket's span, exact from the bucket key itself via
        // datediff, so variable-length calendar buckets normalize
        // correctly: a January rate divides by 31, February by 28)
        // combine in a PINNED two-op IEEE sequence (cast·mul, then one
        // divide) both engines replay bit-identically. Runs on the
        // BOUNDED bucket table; woven before pipeline aggs so
        // buckets_path can reference the rate column.
        val bucketTable2 =
          if (rateSpecs.isEmpty) bucketTable1
          else {
            val dh = m.get("date_histogram") match {
              case Some(JObject(h)) => h.toMap
              case _ => fail("rate requires a date_histogram parent " +
                "(per-unit normalization needs a time bucket)")
            }
            if (dh.contains("time_zone") || dh.contains("offset"))
              fail("rate does not compose with time_zone/offset (bucket " +
                "span arithmetic assumes UTC-aligned keys)")
            if (dh.contains("fixed_interval"))
              fail("rate requires a calendar_interval parent (a fixed " +
                "interval has a constant unit ratio - scale the metric)")
            val parent = strOpt(dh, "calendar_interval").getOrElse("day")
            val unitRank = Map("second" -> 0, "minute" -> 1, "hour" -> 2,
              "day" -> 3, "month" -> 4, "year" -> 5)
            val unitUs = Map("second" -> 1000000L, "minute" -> 60000000L,
              "hour" -> 3600000000L, "day" -> 86400000000L)
            val key = to_date(col(name))
            // bucket span: days from the key to the next calendar
            // boundary (constant 1 for day parents; month/year spans
            // vary and that variation IS the point of rate)
            val spanDays: Column = parent match {
              case "day"   => lit(1)
              case "month" => datediff(add_months(key, 1), key)
              case "year"  => datediff(add_months(key, 12), key)
            }
            rateSpecs.foldLeft(bucketTable1) {
              case (bt, (subName, _, unitOpt, _)) =>
                val unit = unitOpt.getOrElse(parent)
                val ur = unitRank.getOrElse(unit,
                  fail(s"rate '$subName': unsupported unit '$unit' " +
                    "(second|minute|hour|day|month|year)"))
                if (ur > unitRank(parent))
                  fail(s"rate '$subName': unit '$unit' exceeds the " +
                    s"date_histogram interval '$parent'")
                val raw = col(s"__rate_$subName")
                val rateCol = unit match {
                  // month-based units over month-based parents: the
                  // span in months is a compile-time constant
                  case "month" | "year" =>
                    val unitMonths = if (unit == "year") 12.0 else 1.0
                    val parentMonths = if (parent == "year") 12L else 1L
                    raw.cast("double") * lit(unitMonths) /
                      lit(parentMonths).cast("double")
                  // time-based units: span in microseconds from the
                  // key's own calendar arithmetic
                  case _ =>
                    raw.cast("double") * lit(unitUs(unit).toDouble) /
                      (spanDays.cast("long") * lit(86400000000L))
                        .cast("double")
                }
                bt.withColumn(subName, rateCol).drop(s"__rate_$subName")
            }
          }
        if (pipeEntries.isEmpty) {
          val sortCols: Seq[Column] = termsOrder match {
            case None => Seq(col("doc_count").desc, col(name).asc)
            case Some(criteria) =>
              val cols = criteria.map { case (target0, asc) =>
                val target =
                  if (target0 == "_key") name
                  else resolveBucketColumn(bucketTable2,
                    s"terms agg '$name' order", target0)
                if (asc) col(target).asc else col(target).desc
              }
              // bucket key breaks all ties: the order stays total
              if (criteria.exists(_._1 == "_key")) cols
              else cols :+ col(name).asc
          }
          val grouped = bucketTable2.orderBy(sortCols: _*)
          size.map(grouped.limit).getOrElse(grouped)
        } else {
          if (termsOrder.isDefined)
            fail("terms order cannot be combined with pipeline aggs " +
              "(use bucket_sort instead)")
          // pipeline aggs run as windows OVER THE BUCKET SERIES.
          // Series aggs (cumulative_sum/derivative/serial_diff/
          // moving_avg) are only defined under a key-ordered parent
          // (the OpenSearch rule: histogram/date_histogram, never
          // terms) and switch the output to key order — a cumulative
          // sum over a doc_count-sorted series would be meaningless.
          // bucket_selector/bucket_sort also work under a terms
          // parent (the OpenSearch HAVING/ORDER BY idiom); a terms
          // `size` cap is applied BEFORE them, matching OpenSearch's
          // shard-size-then-pipeline evaluation. The unpartitioned
          // windows are safe by construction: they run on the bucket
          // table, bounded by the value/time/size range, not the corpus.
          val hasSeries = pipeEntries.exists {
            case (_, JObject(List((k, _)))) =>
              Set("cumulative_sum", "derivative", "serial_diff",
                "moving_avg", "moving_percentiles", "moving_fn").contains(k)
            case _ => false
          }
          if (hasSeries && !m.contains("histogram") && !m.contains("date_histogram"))
            fail("series pipeline aggs (cumulative_sum/derivative/" +
              "serial_diff/moving_avg/moving_percentiles) require a " +
              "histogram or date_histogram parent")
          if (hasSeries && size.isDefined)
            fail("series pipeline aggs cannot be combined with a bucket size limit")
          val capped = size match {
            case Some(n) =>
              bucketTable2.orderBy(col("doc_count").desc, col(name).asc).limit(n)
            case None => bucketTable2
          }
          withPipelineAggs(capped, name, pipeEntries, metricEntries.map(_._1))
        }

      case _ =>
        // Metric-only: one global aggregation row. MAD entries (the
        // one two-pass metric) each contribute a one-row table,
        // broadcast-crossed onto the single-pass row.
        val (madEntries, plainMetrics) = metricAggs.partition {
          case (_, JObject(List(("median_absolute_deviation", _)))) => true
          case _ => false
        }
        val cols = plainMetrics.flatMap { case (name, spec) =>
          metricCols(name, spec, schema = hits.schema) }
        if (cols.isEmpty && madEntries.isEmpty)
          fail("aggs contained no recognizable aggregations")
        val baseOpt =
          if (cols.isEmpty) None else Some(hits.agg(cols.head, cols.tail: _*))
        val madDfs = madEntries.map { case (n2, sp) =>
          madTable(hits, lit(0L), n2, sp).drop("__mad_k")
        }
        (baseOpt.toSeq ++ madDfs).reduce((a, b) => a.crossJoin(broadcast(b)))
    }
  }

  /** `median_absolute_deviation`: the exact DISCRETE form — the
    * percentile_disc-0.5 of `abs(x − median(x))` per bucket key (the
    * q158 percentile recipe, so the result is an actual data-space
    * value and engine-exact; OpenSearch itself serves a t-digest
    * APPROXIMATION, the same divergence doctrine as `percentiles`).
    * Necessarily two keyed passes + one co-partitioned join (the
    * deviations need the median): all three exchanges hash on the
    * SAME bucket key, so at scale they co-locate, and the tables are
    * key-domain-bounded from the first groupBy on.
    */
  private[search] def madTable(rows: DataFrame, keyCol: Column,
      subName: String, spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(List(("median_absolute_deviation", JObject(b)))) => b.toMap
      case other =>
        fail(s"median_absolute_deviation '$subName' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field")).foreach(k =>
      fail(s"unsupported median_absolute_deviation option '$k' in '$subName'"))
    val f = strOpt(m, "field")
      .getOrElse(fail(s"median_absolute_deviation '$subName' needs a field"))
    val base = rows.select(keyCol.as("__mad_k"), col(f).as("__mad_v"))
    val med = base.groupBy(col("__mad_k").as("__mad_km"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __mad_v)")
        .as("__med"))
    base.join(med, col("__mad_k") <=> col("__mad_km")).drop("__mad_km")
      .groupBy(col("__mad_k"))
      .agg(expr(
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(__mad_v - __med))")
        .as(subName))
  }

  /** `range` bucket agg: explicit [from, to) buckets — a doc lands in
    * EVERY range it falls in (ranges may overlap, the OpenSearch
    * semantics), so this compiles to ONE pass of per-range filtered
    * aggregates (a single global aggregate row, no shuffle beyond the
    * partial-agg exchange) reshaped to one row per range in request
    * order. Sub-aggs: single-column metrics (no stats fan-out).
    */
  private[search] def rangeAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other      => fail(s"range agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "ranges")).foreach(k =>
      fail(s"unsupported range-agg option '$k' in '$name'"))
    val f = strOpt(m, "field").getOrElse(fail(s"range agg '$name' needs a field"))
    val ranges: Seq[(Column, String)] = m.get("ranges") match {
      case Some(JArray(rs)) if rs.nonEmpty => rs.map {
        case JObject(bounds) =>
          val bm = bounds.toMap
          bm.keySet.diff(Set("from", "to")).foreach(k =>
            fail(s"unsupported range bound '$k' in agg '$name'"))
          def num(k: String): Option[Any] = bm.get(k).map(scalaOf)
          val (from, to) = (num("from"), num("to"))
          if (from.isEmpty && to.isEmpty) fail(s"range agg '$name' has an unbounded range")
          val conds = from.map(v => col(f) >= lit(v)).toSeq ++
            to.map(v => col(f) < lit(v))
          val key = s"${from.map(_.toString).getOrElse("*")}-${to.map(_.toString).getOrElse("*")}"
          (conds.reduce(_ && _), key)
        case other => fail(s"range agg '$name' ranges must be objects: ${render(other)}")
      }
      case _ => fail(s"range agg '$name' requires a non-empty ranges array")
    }
    onePassBuckets(hits, name, ranges, subAggs, family = "range")
  }

  /** `geo_distance` bucket agg: ring buckets `[from, to)` km around
    * an origin — the store-locator idiom. The distance is the
    * engine's ONE [[haversineKm]] (shared with the `geo_distance`
    * query and the `_geo_distance` sort, so the three can never
    * drift), and the bucket tail is the shared one-pass filtered
    * aggregate — one global row, the distance expression evaluated
    * ONCE per doc per ring condition in the same scan, never a scan
    * per ring. NULL coordinates land in no bucket (the null-omitted
    * convention).
    */
  private[search] def geoDistanceAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"geo_distance agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("lat_field", "lon_field", "origin", "ranges")).foreach(k =>
      fail(s"unsupported geo_distance-agg option '$k' in '$name'"))
    val latF = strOpt(m, "lat_field")
      .getOrElse(fail(s"geo_distance agg '$name' requires lat_field"))
    val lonF = strOpt(m, "lon_field")
      .getOrElse(fail(s"geo_distance agg '$name' requires lon_field"))
    def num(v: JValue, what: String): Double = v match {
      case JDouble(d) => d
      case JInt(i)    => i.toDouble
      case other      => fail(s"$what must be numeric: ${render(other)}")
    }
    val (latQ, lonQ) = m.get("origin") match {
      case Some(JObject(o)) =>
        val om = o.toMap
        (om.get("lat").map(num(_, "origin.lat"))
           .getOrElse(fail("origin requires lat")),
         om.get("lon").map(num(_, "origin.lon"))
           .getOrElse(fail("origin requires lon")))
      case _ => fail(s"geo_distance agg '$name' requires origin: {lat, lon}")
    }
    val dist = haversineKm(latF, lonF, latQ, lonQ)
    val ranges: Seq[(Column, String)] = m.get("ranges") match {
      case Some(JArray(rs)) if rs.nonEmpty => rs.map {
        case JObject(bounds) =>
          val bm = bounds.toMap
          bm.keySet.diff(Set("from", "to")).foreach(k =>
            fail(s"unsupported range bound '$k' in agg '$name'"))
          val (from, to) = (bm.get("from").map(num(_, "from")),
            bm.get("to").map(num(_, "to")))
          if (from.isEmpty && to.isEmpty)
            fail(s"geo_distance agg '$name' has an unbounded range")
          val conds = from.map(v => dist >= lit(v)).toSeq ++
            to.map(v => dist < lit(v))
          val key = s"${from.map(_.toString).getOrElse("*")}-${to.map(_.toString).getOrElse("*")}"
          (conds.reduce(_ && _), key)
        case other => fail(s"geo_distance agg '$name' ranges must be objects: ${render(other)}")
      }
      case _ => fail(s"geo_distance agg '$name' requires a non-empty ranges array")
    }
    onePassBuckets(hits, name, ranges, subAggs, family = "geo_distance")
  }

  /** `nested` bucket agg: metric sub-aggs over the ELEMENTS of an
    * array-of-structs column (the [[nestedClause]] data model on the
    * agg surface — OpenSearch's nested-documents idiom). `doc_count`
    * counts nested documents, sub-agg fields use the `path.field`
    * form and resolve as struct-field access after ONE explode (the
    * exploded struct keeps the path's name, so the same field paths
    * work on both surfaces). One explode + one global aggregate — no
    * join, no per-element shuffle key. Order-sensitive float metrics
    * (avg/sum over doubles) are the caller's determinism risk, as
    * everywhere else; the oracle-gated shapes use order-free metrics.
    */
  private[search] def nestedAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"nested agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("path")).foreach(k =>
      fail(s"unsupported nested-agg option '$k' in '$name'"))
    val path = strOpt(m, "path").getOrElse(fail(s"nested agg '$name' needs a path"))
    // the parent row identity rides the explode so a reverse_nested
    // sub-agg can count PARENT docs per element bucket; the ids are
    // only ever COUNTED DISTINCT (one per parent row), so their
    // partition-dependent values never reach the result
    val pid = "__rn_pid"
    if (hits.columns.contains(pid))
      fail(s"nested agg '$name': column '$pid' is reserved")
    val elems = hits.withColumn(pid, monotonically_increasing_id())
      .select(col(pid), explode(col(path)).as(path))
    val subEntries: Seq[(String, JValue)] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) => s
      case Some(other) => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    // a `terms` sub-agg switches the nested agg from one global metric
    // row to a FACET over the array elements (top tags / top authors —
    // the multi-valued-field idiom): one explode + one groupBy on the
    // element (or a struct member of it), metric sub-aggs ride the
    // same groupBy; the element domain bounds the bucket table
    val (termsEntries, rest) = subEntries.partition {
      case (_, JObject(List(("terms", _)))) => true
      case _ => false
    }
    // `reverse_nested` sub-agg: back to the parent document level —
    // the bucket's value is how many PARENT rows contribute at least
    // one element (the blog-posts-per-comment-author idiom), vs
    // doc_count which counts elements. Root jump only ({}): the
    // engine's nested model is one array column deep, so a `path`
    // option has nothing shallower to name — fail loud.
    val (reverseEntries, metricEntries) = rest.partition {
      case (_, JObject(List(("reverse_nested", _)))) => true
      case _ => false
    }
    val reverseSubs: Seq[Column] = reverseEntries.map {
      case (n, JObject(List(("reverse_nested", JObject(Nil))))) =>
        countDistinct(col(pid)).as(n)
      case (n, _) => fail(s"reverse_nested '$n' takes no options (the " +
        "nested model is one level deep - the jump is always to the root)")
    }
    val subs: Seq[Column] = metricEntries.flatMap {
      case (n, sp) => metricCols(n, sp, schema = elems.schema)
    } ++ reverseSubs
    termsEntries match {
      case Nil => elems.agg(count(lit(1)).as("doc_count"), subs: _*)
      case Seq((tn, JObject(List(("terms", JObject(t)))))) =>
        val tm = t.toMap
        tm.keySet.diff(Set("field", "size")).foreach(k =>
          fail(s"unsupported nested terms option '$k' in '$tn'"))
        val f = strOpt(tm, "field")
          .getOrElse(fail(s"nested terms '$tn' needs a field"))
        if (f != path && !f.startsWith(path + "."))
          fail(s"nested terms field '$f' must be the nested path or a " +
            s"'$path.' member")
        val size = intOpt(tm, "size").getOrElse(10)
        if (size < 1) fail("nested terms size must be >= 1")
        elems.groupBy(col(f).as(tn))
          .agg(count(lit(1)).as("doc_count"), subs: _*)
          .orderBy(col("doc_count").desc, col(tn).asc)
          .limit(size)
      case _ => fail(s"nested agg '$name' supports at most one terms sub-agg")
    }
  }

  /** `ip_range` bucket agg: explicit `[from, to)` buckets over
    * dotted-quad IPv4 strings — the access-log idiom of the OpenSearch
    * surface. Bounds parse ON THE DRIVER to exact integers; the field
    * converts through one codegen'd split (`a·2²⁴ + b·2¹⁶ + c·2⁸ + d`)
    * and the one-pass filtered-aggregate tail is shared with `range`
    * (one global aggregate row, never a scan per bucket). Malformed
    * BOUNDS fail loud; malformed field VALUES convert to NULL and land
    * in no bucket (the null-key-omitted convention — data is dirty,
    * requests are not). A ':' in any bound switches the agg to the
    * IPv6 arm: bounds parse to the biased (hi, lo) long pair
    * ([[ipv6BiasedPair]]) and each comparison compiles to a pushable
    * two-column lexicographic conjunction; mixed-family bounds fail
    * loud.
    */
  /** Dotted-quad IPv4 string → exact 32-bit integer, NULL on ANY
    * dirt (short split, non-numeric or out-of-range octet — the
    * null-key-omitted convention; try_element_at/try_cast keep ANSI
    * mode from aborting on dirty data). Shared by ip_range and
    * ip_prefix so the two can never disagree on what parses.
    */
  private[search] def ipv4NumCol(f: Column): Column = {
    val oct = split(f, "\\.")
    def octet(i: Int): Column = try_element_at(oct, lit(i)).try_cast("long")
    val octetsOk = (1 to 4).map(i =>
      octet(i).isNotNull && octet(i) >= 0L && octet(i) <= 255L).reduce(_ && _)
    when(size(oct) === 4 && octetsOk,
      octet(1) * lit(16777216L) + octet(2) * lit(65536L) +
        octet(3) * lit(256L) + octet(4))
  }

  /** IPv6 text → the 8 16-bit group values as `array<long>`, NULL on
    * ANY dirt (the null-key-omitted convention shared with
    * [[ipv4NumCol]]). Full, `::`-compressed, and dotted-quad-suffix
    * forms (RFC 4291 §2.2 forms 1-3 — `::ffff:192.0.2.1` v4-mapped
    * addresses bucket like any other v6 address).
    * Served by the static codegen expression
    * [[graft.plans.Ipv6Parse]] (a Column-tree grammar blew Janino's
    * method limit inside fused stages; see that file). No InetAddress
    * — it would accept hostnames and hit the resolver.
    */
  private[search] def ipv6GroupValsCol(f: Column): Column =
    graft.plans.Ipv6Parse(f)

  /** The biased two-long order key of an IPv6 group array: hi/lo =
    * (g₀−2¹⁵)·2⁴⁸ + g₁·2³² + g₂·2¹⁶ + g₃ (resp. g₄..g₇) — subtracting
    * the constant 2¹⁵·2⁴⁸ maps the unsigned 64-bit half into signed
    * Long range MONOTONICALLY, so `(hi, lo)` lexicographic comparison
    * over signed longs is exactly unsigned 128-bit address order and
    * both comparisons push into the scan.
    */
  private[search] def ipv6Biased(groups: Column): (Column, Column) = {
    def half(o: Int): Column =
      (element_at(groups, o + 1) - lit(32768L)) * lit(1L << 48) +
        element_at(groups, o + 2) * lit(1L << 32) +
        element_at(groups, o + 3) * lit(1L << 16) +
        element_at(groups, o + 4)
    (half(0), half(4))
  }

  /** Driver-side strict IPv6 bound parse → 8 group values; fails loud
    * on anything [[ipv6GroupValsCol]] would NULL out (requests are
    * never dirty — the ip_range bound convention).
    */
  /** Driver-side strict IPv6 bound parse → 8 group values; fails loud
    * on anything the column parser would NULL out (requests are never
    * dirty — the ip_range bound convention). ONE grammar:
    * [[graft.plans.Ipv6Parse.groupsOrNull]] serves both sides.
    */
  private[search] def ipv6Groups(addr: String, ctx: String): Seq[Long] = {
    val g = graft.plans.Ipv6Parse.groupsOrNull(addr)
    if (g == null)
      fail(s"$ctx: '$addr' is not a full, ::-compressed, or " +
        "v4-mapped IPv6 address")
    g.toSeq
  }

  private[search] def ipv6BiasedPair(groups: Seq[Long]): (Long, Long) = (
    (groups(0) - 32768L) * (1L << 48) + (groups(1) << 32) +
      (groups(2) << 16) + groups(3),
    (groups(4) - 32768L) * (1L << 48) + (groups(5) << 32) +
      (groups(6) << 16) + groups(7))

  /** `ip_prefix` bucket agg: group addresses by their /N network —
    * one masked-integer groupBy (map-side partial agg), the key
    * rendered as the canonical `a.b.c.d/N` CIDR string (the
    * `append_prefix_length: true` OpenSearch form, the deterministic
    * one). With `is_ipv6: true` the field parses through
    * [[ipv6GroupValsCol]], the mask applies group-wise (bits
    * clamp(N−16i, 0, 16) per group) and the key renders in the
    * UNCOMPRESSED lowercase hex form ("2001:db8:0:0:0:0:0:0/64") —
    * deterministic and engine-portable where RFC 5952 zero
    * compression is a display concern. Dirty addresses NULL out
    * and their rows are omitted (the ip_range convention) on both
    * arms. Output: (key AS name, doc_count [, sub-metric aggs]),
    * ordered by the NUMERIC prefix (lexicographic CIDR strings would
    * put "9.x" after "10.x").
    */
  private[search] def ipPrefixAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"ip_prefix agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "prefix_length", "is_ipv6")).foreach(k =>
      fail(s"unsupported ip_prefix option '$k' in '$name'"))
    val v6 = m.get("is_ipv6") match {
      case None | Some(JBool(false)) => false
      case Some(JBool(true))         => true
      case Some(other) =>
        fail(s"ip_prefix agg '$name': is_ipv6 must be a boolean: ${render(other)}")
    }
    val f = strOpt(m, "field").getOrElse(fail(s"ip_prefix agg '$name' needs a field"))
    val n = intOpt(m, "prefix_length")
      .getOrElse(fail(s"ip_prefix agg '$name' needs a prefix_length"))
    val maxLen = if (v6) 128 else 32
    if (n < 1 || n > maxLen)
      fail(s"ip_prefix prefix_length must be 1-$maxLen, got $n")
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) =>
        s.flatMap { case (sn, sp) => metricCols(sn, sp, schema = hits.schema) }
      case Some(other) => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    if (v6) {
      // The parse materializes ONCE as a projected column: inlining
      // ipv6GroupValsCol into every masked-group/key/order expression
      // would repeat the whole parser tree ~30× in one operator and
      // blow Janino's method limit (observed interpreted fallback).
      val hitsG = hits.withColumn("__v6g", ipv6GroupValsCol(col(f)))
      // group-wise mask: group i keeps bits = clamp(n − 16i, 0, 16) —
      // masked = g − g % 2^(16−bits) (bits 0 → g % 2¹⁶ = g → 0, bits
      // 16 → g % 1 = 0 → g, uniform formula, no branching)
      val groups = col("__v6g")
      def masked(i: Int): Column = {
        val bits = math.max(0, math.min(16, n - 16 * i))
        element_at(groups, i + 1) -
          element_at(groups, i + 1) % lit(1L << (16 - bits))
      }
      val ms = (0 until 8).map(masked)
      val key = concat(
        format_string("%x:%x:%x:%x:%x:%x:%x:%x",
          ms.head, ms(1), ms(2), ms(3), ms(4), ms(5), ms(6), ms(7)),
        lit(s"/$n"))
      val (oHi, oLo) = (
        (ms.head - lit(32768L)) * lit(1L << 48) + ms(1) * lit(1L << 32) +
          ms(2) * lit(1L << 16) + ms(3),
        (ms(4) - lit(32768L)) * lit(1L << 48) + ms(5) * lit(1L << 32) +
          ms(6) * lit(1L << 16) + ms(7))
      hitsG.filter(groups.isNotNull)
        .groupBy(oHi.as("__hi"), oLo.as("__lo"), key.as(name))
        .agg(count(lit(1)).as("doc_count"), subs: _*)
        .orderBy(col("__hi").asc, col("__lo").asc)
        .drop("__hi", "__lo")
    } else {
      val ipNum = ipv4NumCol(col(f))
      val block = 1L << (32 - n)
      val net = ipNum - (ipNum % lit(block))
      val key = concat(
        shiftright(net, 24).cast("string"), lit("."),
        (shiftright(net, 16) % 256).cast("string"), lit("."),
        (shiftright(net, 8) % 256).cast("string"), lit("."),
        (net % 256).cast("string"), lit(s"/$n"))
      hits.filter(ipNum.isNotNull)
        .groupBy(net.as("__net"), key.as(name))
        .agg(count(lit(1)).as("doc_count"), subs: _*)
        .orderBy(col("__net").asc)
        .drop("__net")
    }
  }

  private[search] def ipRangeAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other      => fail(s"ip_range agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "ranges")).foreach(k =>
      fail(s"unsupported ip_range option '$k' in '$name'"))
    val f = strOpt(m, "field").getOrElse(fail(s"ip_range agg '$name' needs a field"))
    def ipToLong(s: String): Long = {
      val parts = s.split("\\.", -1)
      if (parts.length != 4 || parts.exists(p =>
          p.isEmpty || p.length > 3 || !p.forall(_.isDigit) || p.toInt > 255))
        fail(s"ip_range agg '$name': '$s' is not a dotted-quad IPv4 address")
      parts.foldLeft(0L)((acc, p) => acc * 256L + p.toLong)
    }
    // one ':' in any bound switches the whole agg to the IPv6 arm —
    // bounds must agree on the family (a mixed request is a user
    // error, never a silent cross-family comparison)
    val boundStrs: Seq[String] = m.get("ranges") match {
      case Some(JArray(rs)) => rs.flatMap {
        case JObject(bounds) => bounds.collect { case (_, JString(s)) => s }
        case _               => Nil
      }
      case _ => Nil
    }
    val v6 = boundStrs.exists(_.contains(":"))
    if (v6 && !boundStrs.forall(_.contains(":")))
      fail(s"ip_range agg '$name' mixes IPv4 and IPv6 bounds")
    lazy val ipNum = ipv4NumCol(col(f))
    // v6: the parse materializes ONCE as a projected column — every
    // bound comparison re-embedding the parser tree blew Janino's
    // method limit (interpreted fallback); the biased pair over the
    // projected array is 8 element_ats
    lazy val hitsV6 = hits.withColumn("__v6g", ipv6GroupValsCol(col(f)))
    lazy val (ipHi, ipLo) = ipv6Biased(col("__v6g"))
    val ranges: Seq[(Column, String)] = m.get("ranges") match {
      case Some(JArray(rs)) if rs.nonEmpty => rs.map {
        case JObject(bounds) =>
          val bm = bounds.toMap
          bm.keySet.diff(Set("from", "to")).foreach(k =>
            fail(s"unsupported ip_range bound '$k' in agg '$name'"))
          def boundStr(k: String): Option[String] = bm.get(k).map {
            case JString(s) => s
            case other => fail(s"ip_range $k must be an address string: ${render(other)}")
          }
          val (from, to) = (boundStr("from"), boundStr("to"))
          if (from.isEmpty && to.isEmpty)
            fail(s"ip_range agg '$name' has an unbounded range")
          val conds: Seq[Column] =
            if (v6) {
              // two-column lexicographic conjunction over the biased
              // (hi, lo) pair — both legs are plain long comparisons,
              // pushable like any scan predicate
              def cmp(s: String, lt: Boolean): Column = {
                val (h, l2) = ipv6BiasedPair(
                  ipv6Groups(s, s"ip_range agg '$name' bound"))
                if (lt) ipHi < lit(h) || (ipHi === lit(h) && ipLo < lit(l2))
                else ipHi > lit(h) || (ipHi === lit(h) && ipLo >= lit(l2))
              }
              from.map(s => cmp(s, lt = false)).toSeq ++
                to.map(s => cmp(s, lt = true))
            } else
              from.map(s => ipNum >= lit(ipToLong(s))).toSeq ++
                to.map(s => ipNum < lit(ipToLong(s)))
          val key = s"${from.getOrElse("*")}-${to.getOrElse("*")}"
          (conds.reduce(_ && _), key)
        case other => fail(s"ip_range agg '$name' ranges must be objects: ${render(other)}")
      }
      case _ => fail(s"ip_range agg '$name' requires a non-empty ranges array")
    }
    onePassBuckets(if (v6) hitsV6 else hits, name, ranges, subAggs,
      family = "ip_range")
  }

  /** `date_range` bucket agg: calendar-anchored [from, to) buckets
    * over a date column — `range`'s semantics (overlap allowed, a doc
    * lands in every bucket containing it, request order) with ISO
    * `yyyy-MM-dd` bounds, compiled through the same one-pass
    * filtered-aggregate machinery (one partial-agg exchange, never a
    * scan per bucket). Bounds outside the ISO shape fail loud — a
    * mis-parsed date must never silently become an empty bucket.
    */
  private[search] def dateRangeAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"date_range agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "ranges", "now")).foreach(k =>
      fail(s"unsupported date_range option '$k' in '$name'"))
    val f = strOpt(m, "field").getOrElse(fail(s"date_range agg '$name' needs a field"))
    // a sibling "now" supplies the deterministic instant date math in
    // the bounds resolves against (the rangeClause convention)
    val nowOpt = m.get("now") match {
      case Some(JString(s)) =>
        try Some(DateMath.parseAnchor(s))
        catch { case e: IllegalArgumentException =>
          fail(s"date_range '$name': now ${e.getMessage}") }
      case None        => None
      case Some(other) =>
        fail(s"date_range now must be an ISO string: ${render(other)}")
    }
    val ranges: Seq[(Column, String)] = m.get("ranges") match {
      case Some(JArray(rs)) if rs.nonEmpty => rs.map {
        case JObject(bounds) =>
          val bm = bounds.toMap
          bm.keySet.diff(Set("from", "to")).foreach(k =>
            fail(s"unsupported date_range bound '$k' in agg '$name'"))
          // strict CALENDAR validation on the driver — a regex-valid
          // but impossible date ("1994-02-30") would otherwise pass
          // through to_date as NULL and silently empty the bucket.
          // Date-math bounds ("now-2y/y", "1997-01-01||+6M/M") resolve
          // on the driver too; aggregation bounds round PLAIN FLOOR on
          // both ends (the OpenSearch agg rule — the bound-type-aware
          // rounding is the range QUERY's contract, not this one) and
          // must land on day precision (the bucket key model is DATE —
          // add /d..   /y to sub-day math rather than silently
          // truncating). The bucket label keeps the request's own
          // expression text.
          def day(k: String): Option[String] = bm.get(k).map {
            case JString(s) if DateMath.isDateMath(s) =>
              val r = try DateMath.eval(s, nowOpt) catch {
                case e: IllegalArgumentException =>
                  fail(s"date_range '$name' $k: ${e.getMessage}")
              }
              val t = r.round.map(u => DateMath.truncate(r.base, u))
                .getOrElse(r.base)
              if (!t.toLocalTime.equals(java.time.LocalTime.MIDNIGHT))
                fail(s"date_range '$name' $k '$s' resolves to sub-day " +
                  "precision - round with /d (or coarser)")
              t.toLocalDate.toString
            case JString(s) =>
              try { java.time.LocalDate.parse(s); s }
              catch { case _: java.time.format.DateTimeParseException =>
                fail(s"date_range $k '$s' is not a valid yyyy-MM-dd date") }
            case other =>
              fail(s"date_range $k must be a yyyy-MM-dd string: ${render(other)}")
          }
          def label(k: String): Option[String] = bm.get(k).collect {
            case JString(s) => s
          }
          val (from, to) = (day("from"), day("to"))
          val (fromL, toL) = (label("from"), label("to"))
          if (from.isEmpty && to.isEmpty)
            fail(s"date_range agg '$name' has an unbounded range")
          val conds = from.map(v => col(f) >= to_date(lit(v))).toSeq ++
            to.map(v => col(f) < to_date(lit(v)))
          val key = s"${fromL.getOrElse("*")}-${toL.getOrElse("*")}"
          (conds.reduce(_ && _), key)
        case other => fail(s"date_range agg '$name' ranges must be objects: ${render(other)}")
      }
      case _ => fail(s"date_range agg '$name' requires a non-empty ranges array")
    }
    onePassBuckets(hits, name, ranges, subAggs, family = "date_range")
  }

  /** `rare_terms` bucket agg: the LONG TAIL — field values whose doc
    * count is at or under `max_doc_count` (the inverse of `terms`'
    * top-N), ascending count then key (the q99 contract). One
    * partial-aggregated shuffle; the output is bounded by the
    * vocabulary, and the filter runs on the aggregated counts, never
    * a second scan.
    */
  private[search] def rareTermsAgg(hits: DataFrame, name: String,
      spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"rare_terms agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "max_doc_count")).foreach(k =>
      fail(s"unsupported rare_terms option '$k' in '$name'"))
    val f = strOpt(m, "field").getOrElse(fail(s"rare_terms agg '$name' needs a field"))
    val maxDc = intOpt(m, "max_doc_count").getOrElse(1)
    if (maxDc < 1) fail("rare_terms max_doc_count must be >= 1")
    // OpenSearch omits documents missing the field — and a NULL
    // bucket would also sort NULLS FIRST here vs NULLS LAST in most
    // SQL engines (the composite-agg portability rule)
    hits.filter(col(f).isNotNull)
      .groupBy(col(f).as(name))
      .agg(count(lit(1)).as("doc_count"))
      .filter(col("doc_count") <= maxDc)
      .orderBy(col("doc_count").asc, col(name).asc)
  }

  /** `adjacency_matrix` bucket agg: named filters plus the document
    * count of every pairwise intersection (the co-occurrence-heatmap
    * agg — the q110 contract). Cells are keyed `a` / `a&b` in
    * alphabetical key order, exactly OpenSearch's response order.
    * Every cell is one conditional aggregate in a SINGLE global
    * aggregation row (the one-pass filtered-bucket machinery) — no
    * joins, no explode of the corpus, one partial-agg shuffle of one
    * row reshaped to cell rows.
    */
  private[search] def adjacencyMatrixAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"adjacency_matrix '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("filters")).foreach(k =>
      fail(s"unsupported adjacency_matrix option '$k' in '$name'"))
    val named: Seq[(String, Column)] = m.get("filters") match {
      case Some(JObject(fs)) if fs.size >= 2 =>
        fs.map { case (fname, q) =>
          if (fname.contains("&"))
            fail(s"adjacency_matrix filter name '$fname' may not contain '&' " +
              "(the intersection-key separator)")
          (fname, compileQuery(q).pred)
        }
      case _ => fail(s"adjacency_matrix '$name' requires >= 2 keyed filters")
    }
    val sorted = named.sortBy(_._1)
    val cells: Seq[(Column, String)] = for {
      (i, (an, ac)) <- sorted.zipWithIndex.map(_.swap)
      (bn, bc) <- sorted.drop(i)
    } yield (if (an == bn) (ac, an) else (ac && bc, s"$an&$bn"))
    onePassBuckets(hits, name, cells, subAggs, family = "adjacency_matrix")
  }

  /** `matrix_stats` agg: count/mean/variance/covariance/correlation
    * between exactly two INTEGRAL fields (the q111 contract). Every
    * moment derives from exact integer sums (Σx, Σy, Σx², Σy², Σxy —
    * order-free), so the final float divisions/sqrt are deterministic
    * in any engine; round(·, 6) absorbs the last-op ulp. Non-integral
    * fields fail loud — a float input would make the sums
    * order-sensitive and the gate flaky. One partial-agg shuffle of
    * one row.
    */
  private[search] def matrixStatsAgg(hits: DataFrame, name: String,
      spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"matrix_stats '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("fields")).foreach(k =>
      fail(s"unsupported matrix_stats option '$k' in '$name'"))
    val (fx, fy) = m.get("fields") match {
      case Some(JArray(List(JString(a), JString(b)))) => (a, b)
      case _ => fail(s"matrix_stats '$name' requires fields: [exactly two fields]")
    }
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq(fx, fy).foreach { f =>
      val dt = hits.schema.find(_.name == f)
        .getOrElse(fail(s"matrix_stats field '$f' does not exist")).dataType
      if (!Set[org.apache.spark.sql.types.DataType](
          ByteType, ShortType, IntegerType, LongType).contains(dt))
        fail(s"matrix_stats field '$f' must be integral (got $dt): float " +
          "inputs make the moment sums order-sensitive")
    }
    val (x, y) = (col(fx).cast("long"), col(fy).cast("long"))
    val moments = hits.agg(count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"),
      greatest(max(abs(x)), max(abs(y))).as("maxab"))
    val n = col("n").cast("double")
    // the exact-moments contract dies silently if Σx² wraps Long in a
    // deployment that DISABLES ANSI mode (with Spark's default ANSI on,
    // the per-row multiply itself raises) — fail loud either way, like
    // significant_terms' ppm guard. Conservative double-space bound:
    // maxab² · n under 9e18.
    val nGuarded = when(
        pow(col("maxab").cast("double"), 2.0) * n > lit(9.0e18),
        raise_error(lit("matrix_stats moment overflow: |values|^2 x rows " +
          "exceeds the exact Long model")).cast("long"))
      .otherwise(col("n"))
    val varX = (col("sxx") - col("sx") * col("sx") / n) / n
    val varY = (col("syy") - col("sy") * col("sy") / n) / n
    val covXY = (col("sxy") - col("sx") * col("sy") / n) / n
    moments.select(nGuarded.as("n"),
      round(col("sx") / n, 6).as(s"mean_$fx"),
      round(col("sy") / n, 6).as(s"mean_$fy"),
      round(varX, 6).as(s"var_$fx"),
      round(varY, 6).as(s"var_$fy"),
      round(covXY, 6).as("covariance"),
      round(covXY / (sqrt(varX) * sqrt(varY)), 6).as("correlation"))
  }

  /** `geo_grid` bucket agg: fixed-degree lat/lon cells (the
    * geotile/geohash-grid idea expressed over the engine's named
    * lat/lon columns — the q125 contract): one groupBy on the two
    * floor-divided cell keys with doc_count + metric sub-aggs,
    * ordered (cell_lat, cell_lon). One partial-aggregated shuffle
    * bounded by the cell count.
    */
  private[search] def geoGridAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"geo_grid '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("lat_field", "lon_field", "cell_deg")).foreach(k =>
      fail(s"unsupported geo_grid option '$k' in '$name'"))
    val latF = strOpt(m, "lat_field").getOrElse(fail("geo_grid requires lat_field"))
    val lonF = strOpt(m, "lon_field").getOrElse(fail("geo_grid requires lon_field"))
    val cell = m.get("cell_deg") match {
      case Some(JDouble(d)) if d > 0  => d
      case Some(JInt(i)) if i > 0     => i.toDouble
      case Some(JDecimal(d)) if d > 0 => d.toDouble
      case _ => fail("geo_grid requires a positive numeric cell_deg")
    }
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) => s.flatMap { case (sn, sp) => metricCols(sn, sp, schema = hits.schema) }
      case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    // rows missing either coordinate are omitted (OpenSearch's
    // missing-geo_point rule; also kills the NULL-bucket sort-order
    // portability hazard)
    hits.filter(col(latF).isNotNull && col(lonF).isNotNull)
      .groupBy(floor(col(latF) / lit(cell)).as(s"${name}_lat"),
        floor(col(lonF) / lit(cell)).as(s"${name}_lon"))
      .agg(count(lit(1)).as("doc_count"), subs: _*)
      .orderBy(col(s"${name}_lat"), col(s"${name}_lon"))
  }

  /** REAL base-32 geohash cell id (interoperable with OpenSearch's
    * geohash strings, unlike [[geoGridAgg]]'s fixed-degree analog):
    * precision-p hash = the top 5p bits of the bit-interleaved
    * quantized axes (longitude leads and takes the extra bit of odd
    * totals — the public algorithm), rendered through the standard
    * 32-char alphabet (0-9 then b-z minus a/i/l/o). The per-axis quantizer
    * `floor((v + off) / span · 2^bits)` is exactly the bisection
    * bit-walk unrolled, so the whole hash is deterministic integer
    * arithmetic after ONE IEEE multiply-divide per axis — the DuckDB
    * oracle replays it term-for-term with `>> & <<` (see q250). Pure
    * codegen (shifts, masks, element_at), no UDF.
    */
  private[search] def geohashCol(lat: Column, lon: Column, p: Int): Column = {
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    val total = 5 * p
    val xb = (total + 1) / 2 // lon leads: the extra bit on odd totals
    val yb = total / 2
    def quant(c: Column, off: Double, span: Double, bits: Int): Column =
      least(greatest(floor((c + lit(off)) / lit(span) *
          lit((1L << bits).toDouble)), lit(0.0)),
        lit(((1L << bits) - 1).toDouble)).cast("long")
    val ix = quant(lon, 180.0, 360.0, xb)
    val iy = quant(lat, 90.0, 180.0, yb)
    // interleave: lon bit j lands at 2j (odd total) / 2j+1 (even),
    // lat at the complementary slot — MSB = lon's top bit either way
    val lonPos: Int => Int = j => if (total % 2 == 1) 2 * j else 2 * j + 1
    val latPos: Int => Int = j => if (total % 2 == 1) 2 * j + 1 else 2 * j
    val code =
      ((0 until xb).map(j =>
        shiftleft(shiftright(ix, j).bitwiseAND(lit(1L)), lonPos(j))) ++
       (0 until yb).map(j =>
        shiftleft(shiftright(iy, j).bitwiseAND(lit(1L)), latPos(j))))
        .reduce(_ + _)
    val chars = alphabet.map(ch => lit(ch.toString))
    concat((0 until p).map { j =>
      val d = shiftright(code, 5 * (p - 1 - j)).bitwiseAND(lit(31L))
      element_at(array(chars: _*), (d + lit(1L)).cast("int"))
    }: _*)
  }

  /** The `doc_shape` arm of the grid aggs (r15, VERDICT r14 #4): a
    * SHAPE buckets into EVERY grid cell it intersects (the OpenSearch
    * geo_shape-grid contract — map dashboards over polygon/line docs),
    * via the ONE [[graft.plans.GeoGridCells]] kernel walk per row:
    * candidate cells enumerated from the shape's own bbox through the
    * exact point-agg quantizers, each kept only if its rect intersects
    * the geometry, fail-loud at the 100k cell-enumeration cap.
    * `explode` + the same groupBy as the point arm; dirty geometry
    * drops (NULL array), poison raises (no DLQ arm on aggs).
    */
  private def gridDocShapeCells(m: Map[String, JValue], gridKind: String,
      precision: Int): Column = {
    val dsm = m("doc_shape") match {
      case JObject(ds) => ds.toMap
      case other => fail(s"grid doc_shape must be an object: ${render(other)}")
    }
    val dsType = strOpt(dsm, "type")
      .getOrElse(fail("grid doc_shape requires a type"))
    val (kind, fieldKey) = dsType match {
      case "polygon" if dsm.contains("rings_field") => ("rings", "rings_field")
      case "polygon"            => ("polygon", "ring_field")
      case "multipolygon"       => ("polys", "polys_field")
      case "linestring"         => ("linestring", "line_field")
      case "multilinestring"    => ("multilinestring", "lines_field")
      case "multipoint"         => ("multipoint", "points_field")
      case "geometrycollection" => ("geometrycollection", "shapes_field")
      case other => fail(s"grid doc_shape type '$other' is unsupported")
    }
    dsm.keySet.diff(Set("type", fieldKey)).foreach(k =>
      fail(s"unsupported grid doc_shape option '$k'"))
    val gf = strOpt(dsm, fieldKey)
      .getOrElse(fail(s"grid doc_shape $dsType requires $fieldKey"))
    graft.plans.GeoGridCells(col(s"`$gf`"), kind, gridKind, precision)
  }

  /** `geohash_grid` bucket agg: one groupBy on the [[geohashCol]]
    * cell id — identical shuffle shape to [[geoGridAgg]], the key is
    * just the interoperable string. Count-desc/key-asc total order
    * (the OpenSearch response order, made total). With `doc_shape`
    * instead of lat/lon fields, shapes bucket into every intersecting
    * cell (see [[gridDocShapeCells]]).
    */
  private[search] def geohashGridAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"geohash_grid '$name' must be an object: ${render(other)}")
    }
    val docShape = m.contains("doc_shape")
    if (docShape)
      m.keySet.diff(Set("doc_shape", "precision", "size")).foreach(k =>
        fail(s"unsupported geohash_grid option '$k' in '$name' " +
          "(doc_shape replaces lat_field/lon_field)"))
    else
      m.keySet.diff(Set("lat_field", "lon_field", "precision", "size")).foreach(k =>
        fail(s"unsupported geohash_grid option '$k' in '$name'"))
    val p = intOpt(m, "precision").getOrElse(5)
    if (p < 1 || p > 12) fail(s"geohash_grid precision must be 1-12, got $p")
    val size = intOpt(m, "size")
    size.foreach(s => if (s < 1) fail("geohash_grid size must be >= 1"))
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) =>
        s.flatMap { case (sn, sp) => metricCols(sn, sp, schema = hits.schema) }
      case Some(other) => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    val keyed =
      if (docShape) {
        // the working column must not silently shadow a caller column
        // (the _reason / GeoEnvelope collision doctrine, ADVICE r15)
        if (hits.columns.contains("__geo_cell"))
          fail("geohash_grid doc_shape needs the working column " +
            "'__geo_cell' but the table already carries one - rename it")
        hits.withColumn("__geo_cell",
          explode(gridDocShapeCells(m, "geohash", p)))
          .groupBy(col("__geo_cell").as(name))
      }
      else {
        val latF = strOpt(m, "lat_field")
          .getOrElse(fail("geohash_grid requires lat_field"))
        val lonF = strOpt(m, "lon_field")
          .getOrElse(fail("geohash_grid requires lon_field"))
        hits.filter(col(latF).isNotNull && col(lonF).isNotNull)
          .groupBy(geohashCol(col(latF), col(lonF), p).as(name))
      }
    val grouped = keyed
      .agg(count(lit(1)).as("doc_count"), subs: _*)
      .orderBy(col("doc_count").desc, col(name).asc)
    size.map(grouped.limit).getOrElse(grouped)
  }

  /** REAL web-mercator tile key `z/x/y` (interoperable with
    * OpenSearch's geotile strings and every slippy-map tile server):
    * x = ⌊(lon+180)/360·2ᶻ⌋, y = ⌊(1 − ln(tan φ + 1/cos φ)/π)/2·2ᶻ⌋
    * with latitude clamped to the mercator domain ±85.05112878 (the
    * public algorithm). ln/tan/cos are IEEE transcendentals — not
    * correctly rounded, so a point EXACTLY on a tile edge could in
    * principle land one ulp differently across engines; measure-zero
    * for real coordinates, and the oracle gate would catch it.
    */
  private[search] def geotileCol(lat: Column, lon: Column, z: Int): Column = {
    val n = (1L << z).toDouble
    val x = least(greatest(floor((lon + lit(180.0)) / lit(360.0) * lit(n)),
      lit(0.0)), lit(n - 1)).cast("long")
    val latC = least(greatest(lat, lit(-85.05112878)), lit(85.05112878))
    val latRad = latC * lit(math.Pi / 180.0)
    val merc = (lit(1.0) -
      log(tan(latRad) + lit(1.0) / cos(latRad)) / lit(math.Pi)) / lit(2.0)
    val y = least(greatest(floor(merc * lit(n)), lit(0.0)), lit(n - 1))
      .cast("long")
    concat(lit(s"$z/"), x.cast("string"), lit("/"), y.cast("string"))
  }

  /** `geotile_grid` bucket agg: one groupBy on the [[geotileCol]]
    * tile key — the same shuffle shape as [[geohashGridAgg]], and the
    * same `doc_shape` arm (shapes bucket into every intersecting tile).
    */
  private[search] def geotileGridAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"geotile_grid '$name' must be an object: ${render(other)}")
    }
    val docShape = m.contains("doc_shape")
    if (docShape)
      m.keySet.diff(Set("doc_shape", "precision", "size")).foreach(k =>
        fail(s"unsupported geotile_grid option '$k' in '$name' " +
          "(doc_shape replaces lat_field/lon_field)"))
    else
      m.keySet.diff(Set("lat_field", "lon_field", "precision", "size")).foreach(k =>
        fail(s"unsupported geotile_grid option '$k' in '$name'"))
    val z = intOpt(m, "precision").getOrElse(7)
    if (z < 0 || z > 29) fail(s"geotile_grid precision must be 0-29, got $z")
    val size = intOpt(m, "size")
    size.foreach(s => if (s < 1) fail("geotile_grid size must be >= 1"))
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) =>
        s.flatMap { case (sn, sp) => metricCols(sn, sp, schema = hits.schema) }
      case Some(other) => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    val keyed =
      if (docShape) {
        // same collision fail-loud as the geohash arm (ADVICE r15)
        if (hits.columns.contains("__geo_cell"))
          fail("geotile_grid doc_shape needs the working column " +
            "'__geo_cell' but the table already carries one - rename it")
        hits.withColumn("__geo_cell",
          explode(gridDocShapeCells(m, "geotile", z)))
          .groupBy(col("__geo_cell").as(name))
      }
      else {
        val latF = strOpt(m, "lat_field")
          .getOrElse(fail("geotile_grid requires lat_field"))
        val lonF = strOpt(m, "lon_field")
          .getOrElse(fail("geotile_grid requires lon_field"))
        hits.filter(col(latF).isNotNull && col(lonF).isNotNull)
          .groupBy(geotileCol(col(latF), col(lonF), z).as(name))
      }
    val grouped = keyed
      .agg(count(lit(1)).as("doc_count"), subs: _*)
      .orderBy(col("doc_count").desc, col(name).asc)
    size.map(grouped.limit).getOrElse(grouped)
  }

  /** `variable_width_histogram`: OpenSearch's is a per-shard
    * clustering APPROXIMATION; the engine's DETERMINISTIC analog is
    * equal-frequency bucketing from exact discrete quantile
    * boundaries (the q158 doctrine — boundaries are actual data
    * values, so DuckDB replays them): boundary i = percentile_disc
    * (i/buckets), a doc's bucket = how many boundaries its value
    * exceeds. Two scan-shaped passes — one bounded boundary aggregate
    * (≤ buckets−1 values to the driver, bounded metadata) and ONE
    * groupBy on the codegen'd bucket index with broadcast-literal
    * boundaries. Output per bucket (key-ascending): the centroid key
    * (exact Σ/n, one IEEE divide), min, max, doc_count, sub-metrics.
    */
  private[search] def variableWidthHistogramAgg(hits: DataFrame, name: String,
      spec: JValue, subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"variable_width_histogram '$name' must be an " +
        s"object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "buckets")).foreach(k =>
      fail(s"unsupported variable_width_histogram option '$k' in '$name'"))
    val f = strOpt(m, "field")
      .getOrElse(fail(s"variable_width_histogram '$name' needs a field"))
    val n = intOpt(m, "buckets")
      .getOrElse(fail(s"variable_width_histogram '$name' needs buckets"))
    if (n < 2 || n > 1000)
      fail(s"variable_width_histogram buckets must be 2-1000, got $n")
    val nonNull = hits.filter(col(f).isNotNull)
    val boundCols = (1 until n).map(i => expr(
      s"percentile_disc(${i.toDouble / n}) WITHIN GROUP (ORDER BY `$f`)"))
    val row = nonNull.agg(boundCols.head, boundCols.tail: _*).collect().head
    if (row.isNullAt(0)) {
      // no data: zero buckets (the empty-series sentinel)
      return nonNull.groupBy(col(f).as(name))
        .agg(count(lit(1)).as("doc_count"))
        .select(col(name).cast("double").as(name),
          col(name).as(s"${name}_min"),
          col(name).as(s"${name}_max"), col("doc_count"))
        .limit(0)
    }
    val bounds = (0 until n - 1).map(row.get)
    val idx = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(f) > lit(b), 1L).otherwise(0L)
    }
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) =>
        s.flatMap { case (sn, sp) => metricCols(sn, sp, schema = hits.schema) }
      case Some(other) => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    val aggCols =
      Seq((sum(col(f)).cast("double") / count(col(f)).cast("double")).as(name),
        min(col(f)).as(s"${name}_min"), max(col(f)).as(s"${name}_max"),
        count(lit(1)).as("doc_count")) ++ subs
    nonNull.groupBy(idx.as("__vw_i"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(col(s"${name}_min").asc)
      .drop("__vw_i")
  }

  /** `diversified_sampler` bucket agg: sub-aggs over a de-skewed
    * sample — at most `max_docs_per_value` docs per distinct value of
    * `field`. OpenSearch keeps the top-scored docs per value in shard
    * order; the engine's DETERMINISTIC analog ranks by the explicit
    * `id_field` ascending (the explicit-fields convention — document
    * identity is the one total order every engine replays). One
    * row_number window PARTITIONED BY the dedup key — the shuffle
    * hashes the diversity field, so the cap applies per-key across
    * the whole corpus (stronger than OpenSearch's per-shard cap) and
    * scales with the key cardinality, never a global sort.
    */
  private[search] def diversifiedSamplerAgg(hits: DataFrame, name: String,
      spec: JValue, subAggs: Option[JValue]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = spec match {
      case JObject(s) => s.toMap
      case other =>
        fail(s"diversified_sampler '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "id_field", "max_docs_per_value")).foreach(k =>
      fail(s"unsupported diversified_sampler option '$k' in '$name'"))
    val f = strOpt(m, "field")
      .getOrElse(fail("diversified_sampler requires the diversity field"))
    val idF = strOpt(m, "id_field")
      .getOrElse(fail("diversified_sampler requires id_field (the " +
        "deterministic per-value order — the explicit-fields convention)"))
    val cap = intOpt(m, "max_docs_per_value").getOrElse(1)
    if (cap < 1) fail("diversified_sampler max_docs_per_value must be >= 1")
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) =>
        s.flatMap { case (sn, sp) => metricCols(sn, sp, schema = hits.schema) }
      case Some(other) => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    val w = Window.partitionBy(col(f)).orderBy(col(idF).asc)
    hits.withColumn("__ds_rn", row_number().over(w))
      .filter(col("__ds_rn") <= cap).drop("__ds_rn")
      .agg(count(lit(1)).as("doc_count"), subs: _*)
  }

  /** `children` / `parent` bucket aggs: the relations model's agg arm
    * — switch the doc set from the current hits to their children
    * (resp. parents) and run the sub-aggs there. Same explicit-columns
    * wire shape as has_child/has_parent. Compiles to ONE semi-join on
    * the id domain (hit ids broadcast or hashed — never a per-row
    * subquery) + a global aggregate; `children` additionally gates the
    * joined side on the child `type`.
    */
  private[search] def relationSwitchAgg(table: DataFrame, hits: DataFrame,
      name: String, spec: JValue, subAggs: Option[JValue],
      toChildren: Boolean): DataFrame = {
    val kind = if (toChildren) "children" else "parent"
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"$kind '$name' must be an object: ${render(other)}")
    }
    val allowed =
      if (toChildren) Set("type", "join_field", "id_field", "parent_field")
      else Set("join_field", "id_field", "parent_field")
    m.keySet.diff(allowed).foreach(k =>
      fail(s"unsupported $kind option '$k' in '$name'"))
    val joinF = strOpt(m, "join_field")
      .getOrElse(fail(s"$kind needs join_field (the relation-name column)"))
    val idF = strOpt(m, "id_field")
      .getOrElse(fail(s"$kind needs id_field (the document id column)"))
    val parentF = strOpt(m, "parent_field")
      .getOrElse(fail(s"$kind needs parent_field (the child's parent pointer)"))
    val switched =
      if (toChildren) {
        val childType = strOpt(m, "type")
          .getOrElse(fail("children needs the child 'type'"))
        table.filter(col(joinF) === lit(childType))
          .join(hits.select(col(idF).as("__rs_id")),
            col(parentF) === col("__rs_id"), "leftsemi")
      } else
        table.join(hits.filter(col(parentF).isNotNull)
            .select(col(parentF).as("__rs_id")).distinct(),
          col(idF) === col("__rs_id"), "leftsemi")
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) =>
        s.flatMap { case (sn, sp) => metricCols(sn, sp, schema = table.schema) }
      case Some(other) => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    switched.agg(count(lit(1)).as("doc_count"), subs: _*)
  }

  /** Two-level bucket table for a `terms` agg nesting another `terms`
    * agg (+ metric sub-aggs on the inner buckets). One groupBy on the
    * (outer, inner) key pair — a single shuffle carrying map-side
    * partials, exactly like the flat terms agg — then outer totals,
    * per-outer inner ranks and the outer rank as windows OVER THE
    * BUCKET TABLE (bounded by the key-pair cardinality, never the
    * corpus; the pipeline-agg argument). Output: outer key (named
    * after the parent agg), `<parent>_doc_count` (the outer bucket's
    * total), inner key, `doc_count`, inner metric columns — ordered
    * by outer total desc / outer key, then inner count desc / inner
    * key (the OpenSearch response order, made total). `size` on
    * either level limits that level's buckets. NULL-inner-key rows
    * COUNT toward their outer bucket's total (the parent bucket holds
    * all its docs, as in OpenSearch) but emit no inner bucket (the
    * terms-agg missing-value rule); NULL outer keys are omitted
    * entirely.
    */
  private[search] def termsInTermsAgg(hits: DataFrame, name: String,
      outerField: String, outerSize: Option[Int], subName: String,
      innerSpec: Map[String, JValue]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    innerSpec.keySet.diff(Set("terms", "aggs")).foreach(k =>
      fail(s"unsupported nested-terms option '$k' in '$subName'"))
    val (innerField, innerSize) = innerSpec.get("terms") match {
      case Some(JObject(t)) =>
        val tm = t.toMap
        tm.keySet.diff(Set("field", "size")).foreach(k =>
          fail(s"unsupported terms option '$k' in '$subName'"))
        (strOpt(tm, "field").getOrElse(fail(s"terms agg '$subName' needs a field")),
          intOpt(tm, "size"))
      case _ => fail(s"nested agg '$subName' has no terms body")
    }
    if (innerField == outerField)
      fail(s"nested terms field '$innerField' must differ from the parent's")
    val subs: Seq[Column] = innerSpec.get("aggs") match {
      case None             => Nil
      case Some(JObject(s)) => s.flatMap { case (n, sp) => metricCols(n, sp, schema = hits.schema) }
      case Some(other)      => fail(s"aggs.$subName.aggs must be an object: ${render(other)}")
    }
    // group INCLUDING null inner keys so the outer total (a window
    // sum over the bucket table) counts every doc in the parent
    // bucket; the null-inner rows are dropped only AFTER that total,
    // before inner ranking — one scan, one shuffle, OpenSearch
    // parent-count semantics
    val grouped = hits
      .filter(col(outerField).isNotNull)
      .groupBy(col(outerField).as(name), col(innerField).as(subName))
      .agg(count(lit(1)).as("doc_count"), subs: _*)
    val wOuter = Window.partitionBy(col(name))
    val wInnerRank = Window.partitionBy(col(name))
      .orderBy(col("doc_count").desc, col(subName).asc)
    val withTot = grouped
      .withColumn(s"${name}_doc_count", sum(col("doc_count")).over(wOuter))
      .filter(col(subName).isNotNull)
      .withColumn("__ir", row_number().over(wInnerRank))
    val innerLimited =
      innerSize.map(nn => withTot.filter(col("__ir") <= nn)).getOrElse(withTot)
    // window bound: none — outer keys × ≤ inner size rows; outer size cuts after it
    val wOuterRank = Window.orderBy(col(s"${name}_doc_count").desc, col(name).asc)
    val ranked = innerLimited.withColumn("__or", dense_rank().over(wOuterRank))
    val outLimited =
      outerSize.map(nn => ranked.filter(col("__or") <= nn)).getOrElse(ranked)
    val metricNames = outLimited.columns.filterNot(Set(name, subName,
      "doc_count", s"${name}_doc_count", "__ir", "__or").contains)
    outLimited
      .select((col(name) +: col(s"${name}_doc_count") +: col(subName) +:
        col("doc_count") +: metricNames.toSeq.map(col)): _*)
      .orderBy(col(s"${name}_doc_count").desc, col(name).asc,
        col("doc_count").desc, col(subName).asc)
  }

  /** Pipeline aggs over a key-ordered bucket series (`buckets_path`
    * names a sibling metric agg, or `_count` for the bucket's
    * doc_count):
    *  - `cumulative_sum` — running total in bucket-key order;
    *  - `derivative` — bucket-over-bucket delta (NULL on the first
    *    bucket, where OpenSearch omits the value);
    *  - `moving_avg` — exact integer `window`-bucket sum divided by
    *    the exact frame count (one IEEE divide, engine-portable — the
    *    q57 recipe);
    *  - `bucket_script` — per-bucket arithmetic over named sibling
    *    metrics (`{"buckets_path": {"a": ..., "b": ...}, "script":
    *    "params.a * 100 / params.b"}`), the dashboard ratio/percentage
    *    idiom, compiled by [[scriptArithmetic]].
    */
  private[search] def withPipelineAggs(buckets: DataFrame, name: String,
      pipeEntries: Seq[(String, JValue)],
      metricNames: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // window bound: terms `size` if set, else the uncapped key or bucket count
    val wKey = Window.orderBy(col(name).asc)
    // Three pipeline families, applied in dependency order (the
    // OpenSearch evaluation model, independent of declaration order):
    // column-adders (the series aggs over the key-ordered bucket
    // series, plus bucket_script's per-bucket arithmetic) run first
    // in declaration order, bucket_selector then filters buckets (it
    // may reference the added columns — a superset of OpenSearch,
    // which only allows sibling metrics), bucket_sort finally
    // re-orders and pages. All of it runs on the BOUNDED bucket table — the
    // unpartitioned windows never see the corpus.
    val (sorts, rest0) = pipeEntries.partition {
      case (_, JObject(List(("bucket_sort", _)))) => true; case _ => false
    }
    val (selectors, series) = rest0.partition {
      case (_, JObject(List(("bucket_selector", _)))) => true; case _ => false
    }
    if (sorts.size > 1) fail("at most one bucket_sort per bucket agg")

    def pathCol(df: DataFrame, subName: String, body: Map[String, JValue],
        key: String = "buckets_path"): String = {
      val path = strOpt(body, key)
        .getOrElse(fail(s"pipeline agg '$subName' needs a $key"))
      resolveBucketColumn(df, s"pipeline agg '$subName'", path)
    }

    val withSeries = series.foldLeft(buckets) { case (df, (subName, subSpec)) =>
      val (kind, body) = subSpec match {
        case JObject(List((k, JObject(b)))) => (k, b.toMap)
        case other => fail(s"pipeline agg '$subName' must be {kind: {buckets_path}}: ${render(other)}")
      }
      kind match {
        // moving_percentiles: the exact DISCRETE analog of the
        // sketch-merging original (the q158 doctrine — OpenSearch
        // merges t-digests of the underlying values; the engine takes
        // the discrete percentile of the window's bucket-metric
        // series, an actual data-space value). One column per percent
        // (`<name>_p<p>`, the percentiles naming): sort the window's
        // collected frame, pick element ceil(p·n/100) — all integer
        // index arithmetic, the element keeps its exact type. Runs on
        // the BOUNDED bucket series like every series agg.
        case "moving_percentiles" =>
          body.keySet.diff(Set("buckets_path", "window", "percents"))
            .foreach(k =>
              fail(s"unsupported moving_percentiles option '$k' in '$subName'"))
          val target = pathCol(df, subName, body)
          val w = intOpt(body, "window")
            .getOrElse(fail(s"moving_percentiles '$subName' needs a window"))
          if (w < 1) fail("moving_percentiles window must be >= 1")
          val percents = body.get("percents") match {
            case Some(JArray(ps)) if ps.nonEmpty => ps.map {
              case JInt(i) if i > 0 && i < 100 => i.toInt
              case other =>
                fail(s"percents must be integers in (0,100): ${render(other)}")
            }
            case None        => Seq(1, 5, 25, 50, 75, 95, 99)
            case Some(other) => fail(s"percents must be an array: ${render(other)}")
          }
          val frame = wKey.rowsBetween(-(w - 1).toLong, Window.currentRow)
          val arr = array_sort(collect_list(col(target)).over(frame))
          percents.foldLeft(df) { (d, p) =>
            // ceil(p·n/100) as exact integers; NULL targets drop from
            // collect_list, an all-NULL window yields NULL (the
            // OpenSearch empty-window omission)
            val idx = ((size(arr).cast("long") * lit(p.toLong) + lit(99L)) /
              lit(100L)).cast("int")
            d.withColumn(s"${subName}_p$p",
              when(size(arr) === 0, lit(null)).otherwise(element_at(arr, idx)))
          }
        // normalize: per-bucket rescaling against full-series stats —
        // methods keep the portable-determinism recipe (exact integer
        // sums/mins/maxes where the metric is integral, then a PINNED
        // IEEE op order both engines replay bit-identically). softmax
        // fails loud: exp is not correctly rounded, so its doubles
        // cannot be oracle-gated cross-engine.
        case "normalize" =>
          body.keySet.diff(Set("buckets_path", "method")).foreach(k =>
            fail(s"unsupported normalize option '$k' in '$subName'"))
          val target = pathCol(df, subName, body)
          val method = strOpt(body, "method")
            .getOrElse(fail(s"normalize '$subName' needs a method"))
          val wAll =
            wKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          val x = col(target)
          val sumAll = sum(x).over(wAll)
          val minAll = min(x).over(wAll)
          val maxAll = max(x).over(wAll)
          val nAll = count(x).over(wAll)
          val meanAll = sumAll.cast("double") / nAll.cast("double")
          // Degenerate series guard: a constant series (max == min),
          // a zero-sum percent_of_sum, or a zero-variance z-score has
          // no defined rescaling — emit a documented NULL for every
          // bucket instead of the NaN/Infinity a raw IEEE divide
          // produces (NULL is observable and oracle-able; NaN !=
          // NaN poisons hash gates silently).
          val nullD = lit(null).cast("double")
          val c = method match {
            case "percent_of_sum" =>
              when(sumAll === lit(0), nullD)
                .otherwise(x.cast("double") / sumAll.cast("double"))
            case "rescale_0_1" =>
              when(maxAll === minAll, nullD).otherwise(
                (x - minAll).cast("double") / (maxAll - minAll).cast("double"))
            case "rescale_0_100" =>
              when(maxAll === minAll, nullD).otherwise(
                ((x - minAll) * lit(100)).cast("double") /
                  (maxAll - minAll).cast("double"))
            case "mean" =>
              when(maxAll === minAll, nullD).otherwise(
                (x.cast("double") - meanAll) / (maxAll - minAll).cast("double"))
            case "z-score" =>
              val sumSq = sum(x * x).over(wAll)
              val varNum = (nAll * sumSq - sumAll * sumAll)
              val varAll = varNum.cast("double") / (nAll * nAll).cast("double")
              when(varNum === lit(0), nullD)
                .otherwise((x.cast("double") - meanAll) / sqrt(varAll))
            case "softmax" => fail("normalize softmax is unsupported: exp is " +
              "not a correctly-rounded IEEE op, so its doubles cannot be " +
              "oracle-gated cross-engine (use percent_of_sum)")
            case other => fail(s"unsupported normalize method '$other'")
          }
          df.withColumn(subName, c)
        case _ =>
      val c = kind match {
        case "bucket_script" =>
          // per-bucket derived arithmetic (ratio/percentage from
          // sibling metrics) — no window, no order dependence, so it
          // works under terms parents too; params resolve exactly
          // like bucket_selector's
          body.keySet.diff(Set("buckets_path", "script")).foreach(k =>
            fail(s"unsupported bucket_script option '$k' in '$subName'"))
          val params: Map[String, String] = body.get("buckets_path") match {
            case Some(JObject(ps)) if ps.nonEmpty => ps.map {
              case (p, JString(path)) =>
                p -> resolveBucketColumn(df, s"bucket_script '$subName'", path)
              case (p, other) => fail(s"buckets_path '$p' must be a string: ${render(other)}")
            }.toMap
            case _ => fail(s"bucket_script '$subName' needs a buckets_path object")
          }
          val script = strOpt(body, "script")
            .getOrElse(fail(s"bucket_script '$subName' needs a script"))
          scriptArithmetic(script, params, subName)
        case _ =>
          val allowed = kind match {
            case "moving_avg"  => Set("buckets_path", "window")
            case "moving_fn"   => Set("buckets_path", "window", "script", "shift")
            case "serial_diff" => Set("buckets_path", "lag")
            case "derivative"  => Set("buckets_path", "unit")
            case _             => Set("buckets_path")
          }
          body.keySet.diff(allowed).foreach(k =>
            fail(s"unsupported $kind option '$k' in '$subName'"))
          val target = pathCol(df, subName, body)
          kind match {
            case "cumulative_sum" =>
              sum(col(target)).over(
                wKey.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            case "derivative" => col(target) - lag(col(target), 1).over(wKey)
            case "serial_diff" =>
              val n = intOpt(body, "lag").getOrElse(1)
              if (n < 1) fail("serial_diff lag must be >= 1")
              col(target) - lag(col(target), n).over(wKey)
            case "moving_avg" =>
              val w = intOpt(body, "window").getOrElse(3)
              if (w < 1) fail("moving_avg window must be >= 1")
              val frame = wKey.rowsBetween(-(w - 1).toLong, Window.currentRow)
              sum(col(target)).over(frame).cast("double") /
                count(lit(1)).over(frame).cast("double")
            // moving_fn: the scripted window function — the engine
            // compiles the EXACT MovingFunctions whitelist to native
            // window aggregates (anything else fails loud; a general
            // script would be a per-row interpreter). The OpenSearch
            // shift model: shift 0 EXCLUDES the current bucket (the
            // window is the w previous buckets), shift w includes it
            // fully; an empty first window yields NULL (the omitted
            // value).
            case "moving_fn" =>
              val w = intOpt(body, "window")
                .getOrElse(fail(s"moving_fn '$subName' needs a window"))
              if (w < 1) fail("moving_fn window must be >= 1")
              val shift = intOpt(body, "shift").getOrElse(0)
              if (shift < 0 || shift > w)
                fail(s"moving_fn shift must be in [0, window], got $shift")
              val frame =
                wKey.rowsBetween((shift - w).toLong, (shift - 1).toLong)
              strOpt(body, "script")
                .getOrElse(fail(s"moving_fn '$subName' needs a script"))
                .trim match {
                case "MovingFunctions.max(values)" => max(col(target)).over(frame)
                case "MovingFunctions.min(values)" => min(col(target)).over(frame)
                case "MovingFunctions.sum(values)" => sum(col(target)).over(frame)
                case "MovingFunctions.unweightedAvg(values)" =>
                  sum(col(target)).over(frame).cast("double") /
                    count(col(target)).over(frame).cast("double")
                case other => fail(s"unsupported moving_fn script '$other' " +
                  "(supported: MovingFunctions.{max,min,sum,unweightedAvg}" +
                  "(values))")
              }
            case other => fail(s"unsupported pipeline agg kind '$other'")
          }
      }
      val df1 = df.withColumn(subName, c)
      // derivative `unit`: ALSO emit `<name>_normalized` — the diff
      // per time unit, divided by the ACTUAL gap between this bucket's
      // key and the previous one's (so calendar buckets of unequal
      // length — months — normalize exactly, and a gap in a sparse
      // series divides by the real elapsed time, the OpenSearch
      // contract). Exact integer diff × exact-double unit constant /
      // exact integer microsecond gap: the rate agg's pinned
      // mul-divide recipe. First bucket stays NULL like the raw diff.
      if (kind == "derivative" && body.contains("unit")) {
        import org.apache.spark.sql.types.TimestampType
        if (df.schema(name).dataType != TimestampType)
          fail(s"derivative '$subName' unit requires a date_histogram " +
            "parent (the key must be a timestamp)")
        val unitUs = strOpt(body, "unit") match {
          case Some("second") => 1000000L
          case Some("minute") => 60000000L
          case Some("hour")   => 3600000000L
          case Some("day")    => 86400000000L
          case Some(other) =>
            fail(s"derivative unit must be second|minute|hour|day, got '$other'")
          case None => fail("derivative unit must be a string")
        }
        val gapUs = unix_micros(col(name)) -
          unix_micros(lag(col(name), 1).over(wKey))
        df1.withColumn(s"${subName}_normalized",
          col(subName).cast("double") * lit(unitUs.toDouble) /
            gapUs.cast("double"))
      } else df1
      }
    }

    val selected = selectors.foldLeft(withSeries) { case (df, (subName, subSpec)) =>
      val body = subSpec match {
        case JObject(List(("bucket_selector", JObject(b)))) => b.toMap
        case other => fail(s"bucket_selector '$subName' must be an object: ${render(other)}")
      }
      body.keySet.diff(Set("buckets_path", "script")).foreach(k =>
        fail(s"unsupported bucket_selector option '$k' in '$subName'"))
      val params: Map[String, String] = body.get("buckets_path") match {
        case Some(JObject(ps)) if ps.nonEmpty => ps.map {
          case (p, JString(path)) =>
            p -> resolveBucketColumn(df, s"bucket_selector '$subName'", path)
          case (p, other) => fail(s"buckets_path '$p' must be a string: ${render(other)}")
        }.toMap
        case _ => fail(s"bucket_selector '$subName' needs a buckets_path object")
      }
      val script = strOpt(body, "script")
        .getOrElse(fail(s"bucket_selector '$subName' needs a script"))
      df.filter(selectorPredicate(script, params, subName))
    }

    sorts.headOption match {
      case None => selected.orderBy(col(name).asc)
      case Some((subName, subSpec)) =>
        val body = subSpec match {
          case JObject(List(("bucket_sort", JObject(b)))) => b.toMap
          case other => fail(s"bucket_sort '$subName' must be an object: ${render(other)}")
        }
        body.keySet.diff(Set("sort", "from", "size")).foreach(k =>
          fail(s"unsupported bucket_sort option '$k' in '$subName'"))
        val sortCols: Seq[Column] = body.get("sort") match {
          case None => Seq(col(name).asc)
          case Some(JArray(ss)) if ss.nonEmpty => ss.map {
            case JString(f) => col(pathLike(selected, subName, f)).asc
            case JObject(List((f, JObject(oo)))) =>
              val target = pathLike(selected, subName, f)
              strOpt(oo.toMap, "order").getOrElse("asc") match {
                case "asc"  => col(target).asc
                case "desc" => col(target).desc
                case other  => fail(s"bucket_sort order must be asc/desc: '$other'")
              }
            case other => fail(s"bucket_sort sort entries must be a field or {field: {order}}: ${render(other)}")
          } :+ col(name).asc // total order: bucket key breaks all ties
          case Some(other) => fail(s"bucket_sort sort must be a non-empty array: ${render(other)}")
        }
        val from = intOpt(body, "from").getOrElse(0)
        if (from < 0) fail("bucket_sort from must be >= 0")
        intOpt(body, "size").foreach(sz =>
          if (sz < 1) fail("bucket_sort size must be >= 1"))
        val sorted = selected.orderBy(sortCols: _*)
        val paged =
          if (from == 0) sorted
          else {
            // offset over the bounded bucket table: a row_number window
            // in the SAME total order, then filter — never a collect.
            import org.apache.spark.sql.expressions.Window
            // window bound: the bucket table, as `wKey` in withPipelineAggs
            val rn = row_number().over(Window.orderBy(sortCols: _*))
            sorted.withColumn("__rn", rn).filter(col("__rn") > from)
              .drop("__rn").orderBy(sortCols: _*)
          }
        intOpt(body, "size").map(paged.limit).getOrElse(paged)
    }
  }

  /** The ONE calendar_interval mapping — shared by the
    * date_histogram bucket path and composite date_histogram sources
    * so the accepted unit set can never drift between them.
    */
  private[search] def calendarUnit(s: String): String = s match {
    case "day"   => "DAY"
    case "month" => "MONTH"
    case "year"  => "YEAR"
    case other   => fail(s"unsupported calendar_interval '$other'")
  }

  /** The ONE buckets_path target resolution — `_count` maps to
    * `doc_count`, anything else must be a bucket-table column — shared
    * by the series/selector pipeline aggs, sibling `*_bucket` aggs and
    * the terms `order` option so path semantics can never drift.
    */
  private[search] def resolveBucketColumn(df: DataFrame, owner: String,
      path: String): String = {
    val target = if (path == "_count") "doc_count" else path
    if (!df.columns.contains(target))
      fail(s"$owner: buckets_path '$path' names no metric of the bucket " +
        s"table (have: ${df.columns.mkString(", ")}, _count)")
    target
  }

  /** bucket_sort sort targets: a bucket-table column or `_count`/`_key`. */
  private[search] def pathLike(df: DataFrame, subName: String, f: String): String = {
    val target = f match {
      case "_count" => "doc_count"
      case "_key"   => df.columns.head
      case other    => other
    }
    if (!df.columns.contains(target))
      fail(s"bucket_sort '$subName' sort field '$f' names no bucket column")
    target
  }

  /** The bucket_selector mini-script: ONE comparison
    * `params.<name> <op> <integer>` with op ∈ {>, >=, <, <=, ==, !=}
    * — compiled to a Catalyst predicate over the bucket table.
    * Anything outside the grammar fails loud (no silent truthiness).
    */
  /** The bucket_script mini-script: arithmetic over declared params —
    * `params.a * 100 / params.b` — compiled once on the driver to a
    * Catalyst column over the BOUNDED bucket table. Grammar: binary
    * `+ - * /` with the usual precedence, parentheses, non-negative
    * integer literals and `params.<name>` operands. `+ - *` stay in
    * the operands' exact types (integer metrics never round; ANSI
    * overflow fails loud); every `/` is ONE IEEE double divide — the
    * engine's portable-determinism recipe: `params.a * 100 /
    * params.b` is exact-integer up to the single final divide, so
    * DuckDB replays it bit-identically as `CAST(a*100 AS DOUBLE)/b`.
    * Anything outside the grammar fails loud (no silent truthiness,
    * no driver-side eval).
    */
  private[search] def scriptArithmetic(script: String, params: Map[String, String],
      subName: String): Column = {
    def bad(msg: String): Nothing =
      fail(s"bucket_script '$subName' script $msg: '$script'")
    sealed trait Tok
    case class Operand(c: Column) extends Tok
    case class Op(ch: Char) extends Tok
    val TokRe = """(?:params\.([A-Za-z_][A-Za-z0-9_]*)|(\d+)|([-+*/()]))""".r
    val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var at = 0
    while (at < script.length) {
      if (script.charAt(at).isWhitespace) at += 1
      else TokRe.findPrefixMatchOf(script.substring(at)) match {
        case Some(mm) =>
          toks += (if (mm.group(1) != null) {
            val p = mm.group(1)
            Operand(col(params.getOrElse(p,
              bad(s"references undeclared param '$p'"))))
          } else if (mm.group(2) != null) Operand(lit(mm.group(2).toLong))
          else Op(mm.group(3).head))
          at += mm.end
        case None => bad(s"has an unrecognized token at '${script.drop(at)}'")
      }
    }
    if (toks.isEmpty) bad("is empty")
    var pos = 0
    def take(): Tok = {
      val t = toks.lift(pos).getOrElse(bad("ends unexpectedly")); pos += 1; t
    }
    def factor(): Column = take() match {
      case Operand(c) => c
      case Op('(') =>
        val e = exprP()
        take() match {
          case Op(')') => e
          case _       => bad("has an unbalanced parenthesis")
        }
      case Op(o) => bad(s"has a misplaced operator '$o'")
    }
    def term(): Column = {
      var l = factor()
      var go = true
      while (go) toks.lift(pos) match {
        case Some(Op('*')) => pos += 1; l = l * factor()
        case Some(Op('/')) =>
          pos += 1; l = l.cast("double") / factor().cast("double")
        case _ => go = false
      }
      l
    }
    def exprP(): Column = {
      var l = term()
      var go = true
      while (go) toks.lift(pos) match {
        case Some(Op('+')) => pos += 1; l = l + term()
        case Some(Op('-')) => pos += 1; l = l - term()
        case _ => go = false
      }
      l
    }
    val out = exprP()
    if (pos != toks.length) bad("has trailing tokens")
    out
  }

  private[search] def selectorPredicate(script: String, params: Map[String, String],
      subName: String): Column = {
    val Re = """^\s*params\.([A-Za-z_][A-Za-z0-9_]*)\s*(>=|<=|==|!=|>|<)\s*(-?\d+)\s*$""".r
    script match {
      case Re(p, op, n) =>
        val target = params.getOrElse(p,
          fail(s"bucket_selector '$subName' script references undeclared param '$p'"))
        val v = lit(n.toLong)
        op match {
          case ">"  => col(target) > v
          case ">=" => col(target) >= v
          case "<"  => col(target) < v
          case "<=" => col(target) <= v
          case "==" => col(target) === v
          case "!=" => col(target) =!= v
        }
      case _ => fail(s"bucket_selector '$subName' script must match " +
        s"'params.<name> <op> <integer>', got: '$script'")
    }
  }

  /** `missing` bucket agg: the docs that carry NO value for a field —
    * one conditional global aggregate row (`doc_count` + metric
    * sub-aggs gated on IS NULL), a single partial-agg exchange, no
    * shuffle keyed on anything.
    */
  private[search] def missingAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val f = spec match {
      case JObject(s) =>
        val m = s.toMap
        m.keySet.diff(Set("field")).foreach(k =>
          fail(s"unsupported missing option '$k' in '$name'"))
        strOpt(m, "field").getOrElse(fail(s"missing agg '$name' needs a field"))
      case other => fail(s"missing agg '$name' must be an object: ${render(other)}")
    }
    val gate = col(f).isNull
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) => s.flatMap { case (n, sp) => metricCols(n, sp, Some(gate), hits.schema) }
      case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    hits.agg(count(when(gate, 1L)).as("doc_count"), subs: _*)
  }

  /** `sampler` bucket agg, DETERMINISTIC contract: sub-aggs over the
    * top `shard_size` hits ranked by (score desc, `tiebreak` asc) —
    * where OpenSearch samples the per-shard top-scored docs
    * nondeterministically, this engine requires an explicit tiebreak
    * field so the sample is a pure function of the request (the
    * integer-score determinism rule). One bounded top-k then one
    * global aggregate.
    */
  private[search] def samplerAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"sampler agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("shard_size", "tiebreak")).foreach(k =>
      fail(s"unsupported sampler option '$k' in '$name'"))
    val n = intOpt(m, "shard_size").getOrElse(100)
    if (n < 1) fail("sampler shard_size must be >= 1")
    val tiebreak = strOpt(m, "tiebreak")
      .getOrElse(fail(s"sampler agg '$name' needs a tiebreak field " +
        "(the deterministic-sample contract)"))
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) => s.flatMap { case (sn, sp) => metricCols(sn, sp, schema = hits.schema) }
      case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    // determinism guard: a tie on (score, tiebreak) involving ANY
    // sampled row means which physical row survives the cut is
    // partition-order dependent — including a tie STRADDLING the
    // boundary (rank n vs n+1), where exactly one copy lands in the
    // sample and an in-sample-only check would pass while sub-agg
    // metrics over other fields differ across runs. So the top-k scan
    // takes n+1 rows (one distributed TakeOrdered, same as before),
    // flags duplicate (score, tiebreak) pairs with a count window over
    // the ≤ n+1 local rows, and the aggregate raise_errors if any
    // flagged row made the sample. A tie entirely BEYOND the cut
    // (ranks n+1, n+2) is invisible and harmless — it cannot change
    // the sample.
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("score").desc, col(tiebreak).asc)
    // window bound: ≤ shard_size + 1 rows, the limit
    val plus = hits.orderBy(ord: _*).limit(n + 1)
      .withColumn("__rn", row_number().over(Window.orderBy(ord: _*)))
      .withColumn("__dup",
        count(lit(1)).over(
          Window.partitionBy(col("score"), col(tiebreak))) > 1)
    val sampled = plus.filter(col("__rn") <= n)
    val guardedCount = when(
      max(when(col("__dup"), 1L)) === 1L,
      raise_error(lit(s"sampler: tiebreak '$tiebreak' is not unique at " +
        "the sample boundary - the deterministic contract needs a unique key"))
        .cast("long"))
      .otherwise(count(lit(1)))
    sampled.agg(guardedCount.as("doc_count"), subs: _*)
  }

  /** `string_stats` agg: count / min / max / exact-ratio avg length
    * plus the Shannon entropy of the GLOBAL character distribution —
    * the q92 determinism recipe (per-char c·ln c rounded to 9 dp,
    * summed as DECIMAL so the fold is order-independent, final round
    * to 6 dp). Two bounded aggregations: one over docs for the
    * lengths, one over the ≤|alphabet| character counts.
    */
  private[search] def stringStatsAgg(hits: DataFrame, name: String,
      spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"string_stats agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field")).foreach(k =>
      fail(s"unsupported string_stats option '$k' in '$name'"))
    val f = strOpt(m, "field").getOrElse(fail(s"string_stats '$name' needs a field"))
    val lengths = hits.filter(col(f).isNotNull).agg(
      count(lit(1)).as("count"),
      min(length(col(f))).cast("long").as("min_length"),
      max(length(col(f))).cast("long").as("max_length"),
      (sum(length(col(f))).cast("double") / count(lit(1)))
        .as("avg_length"))
    val chars = hits.filter(col(f).isNotNull)
      .select(explode(split(col(f), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("ch")).agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).as("n"),
        sum(round(col("c").cast("double") * log(col("c").cast("double")), 9)
          .cast("decimal(28,9)")).as("clogc"))
      .select(round(log(col("n").cast("double")) -
        col("clogc").cast("double") / col("n").cast("double"), 6)
        .as("entropy"))
    lengths.crossJoin(broadcast(chars))
  }

  /** Per-(hit-set, field) min/max span cache behind
    * [[autoDateHistogramAgg]]'s unit choice — one column-pruned,
    * filter-pushed min/max aggregate per JVM per (hit-set plan,
    * field), then every REPEAT of the request compiles with ZERO
    * extra Spark work (the round-7 finding: the unit choice used to
    * re-scan the dated column on every request). Keyed by the
    * analyzed hit-plan's semantic hash (so the span reflects the
    * FILTERED hits, the OpenSearch contract — a one-week query over a
    * multi-year table buckets by day, not year) PLUS a freshness
    * fingerprint of the plan's file sources: a table that grows
    * in-JVM (CDC append, re-ingest at the same path) re-derives its
    * span instead of serving a stale unit that could break the
    * bucket-cap guarantee. Values are UTC LocalDateTimes (None = the
    * hit set has no non-NULL date).
    */
  // A BoundedLru: the key carries a source-freshness fingerprint, so a
  // continuously-appending table mints a NEW entry per CDC epoch and an
  // unbounded map would leak driver memory on a long-lived serving JVM.
  // 1024 live (plan, field, freshness) spans ≈ 100 KB and comfortably
  // covers a serving session's hot request set; evicted entries just
  // re-derive (one min/max aggregate) on next touch.
  private[search] val dateSpanCacheCap = 1024
  private[search] val dateSpanCache = new graft.sources.BoundedLru[
    String, Option[(java.time.LocalDateTime, java.time.LocalDateTime)]](dateSpanCacheCap)

  private[search] def dateSpanCacheSize: Int = dateSpanCache.size

  /** Twin cache for the dense-series LOCAL-boundary bounds (the
    * min/max of the compiled lTrunc expression a varying-offset
    * `min_doc_count: 0` request aggregates): keyed by (hit-plan,
    * field, step, offset knob, resolved transition table, source
    * freshness), same cap and same compute-outside-the-lock doctrine
    * as [[dateSpanCache]] — a dashboard refreshing the same dense
    * request must not pay the bounds scan per request.
    */
  private[search] val ltBoundsCache =
    new graft.sources.BoundedLru[String, Option[(Long, Long)]](dateSpanCacheCap)

  /** Test hook: seed a cache entry directly (the eviction spec needs
    * many distinct keys without paying a corpus scan per key).
    */
  private[search] def dateSpanCachePut(key: String): Unit = {
    dateSpanCache.put(key, None)
  }

  /** Driver-side freshness fingerprint of every file source feeding a
    * plan — [[graft.sources.ArtifactCache.freshnessToken]] (a digest
    * of the names, sizes and mtimes of the root's listing, one listing
    * RPC per root, no Spark job) over each scan's root paths.
    * In-memory relations contribute nothing (they are immutable per
    * plan by construction).
    */
  private[search] def planFreshness(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _                    => Seq.empty[String]
      }
    }.flatten.distinct.sorted
    roots.map(p =>
      graft.sources.ArtifactCache.freshnessToken(df.sparkSession, p))
      .mkString(";")
  }

  /** Min/max of a date field over the hit set — ONE column-pruned,
    * filter-pushed aggregate, cached per (hit-plan, field, source
    * freshness) in [[dateSpanCache]]. None = the hit set has no
    * non-NULL value. Shared by `auto_date_histogram` (interval
    * auto-sizing) and the named-`time_zone` resolution (bounding the
    * tzdb transition window), so the two derive the span identically
    * and a repeated request pays zero extra Spark work.
    */
  private[search] def hitDateSpan(hits: DataFrame, f: String)
      : Option[(java.time.LocalDateTime, java.time.LocalDateTime)] = {
    val dated = hits.filter(col(f).isNotNull)
    val key =
      s"${dated.queryExecution.analyzed.semanticHash()}#$f|${planFreshness(dated)}"
    // the aggregate runs OUTSIDE the cache lock: computeIfAbsent on a
    // synchronizedMap holds the one map mutex for the mapping
    // function's whole duration — a multi-second span scan would
    // serialize EVERY date-span lookup engine-wide, exactly under the
    // concurrent-serving fan-in. Two identical requests racing the
    // same cold key may both compute (benign: same value, last put
    // wins); a lock held across a Spark job is the real hazard.
    dateSpanCache.get(key).getOrElse {
      val r = dated.agg(min(col(f)), max(col(f))).head()
      val v =
        if (r.isNullAt(0)) None
        else Some((
          r.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime,
          r.getTimestamp(1).toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime))
      dateSpanCache.put(key, v)
      v
    }
  }

  /** Expand a named IANA zone's rules (the JVM tzdb) into the SAME
    * `[(utc_instant_us, offset_us)]` piecewise-constant table the
    * request-supplied `{"transitions": ...}` form serves — the named
    * zone becomes literals the compiled request (and therefore an
    * oracle) can replay, instead of a wall-clock library call the
    * executors would have to trust. The window is the hit span padded
    * 400 days DOWN (a calendar-year truncation can reach ~366 days
    * before the earliest hit, and its boundary needs the offset in
    * force back then) and 1 day up; the base entry carries the offset
    * in force at the window start, covering all earlier times — the
    * identical lookup rule to the table form.
    */
  private[search] def zoneTransitionTable(zone: java.time.ZoneId,
      lo: java.time.Instant, hi: java.time.Instant): Seq[(Long, Long)] = {
    val rules = zone.getRules
    def us(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    val base = lo.minus(java.time.Duration.ofDays(400))
    val stop = hi.plus(java.time.Duration.ofDays(1))
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    buf += ((us(base), rules.getOffset(base).getTotalSeconds * 1000000L))
    var tr = rules.nextTransition(base)
    while (tr != null && !tr.getInstant.isAfter(stop)) {
      buf += ((us(tr.getInstant),
        tr.getOffsetAfter.getTotalSeconds.toLong * 1000000L))
      tr = rules.nextTransition(tr.getInstant)
    }
    buf.toSeq
  }

  /** The ONE `time_zone` grammar, shared by `date_histogram` and
    * `auto_date_histogram` so the forms can never drift: a FIXED
    * ±HH:mm offset (returned as micros, no table), a request-supplied
    * `{"transitions": [[iso_utc, offset_min], …]}` table, or a NAMED
    * IANA zone resolved ON THE DRIVER over `span` (call-by-name: the
    * span aggregate only runs for named zones) into that same literal
    * table — executors never call a wall-clock library, and an
    * unknown name fails loud.
    */
  private[search] def parseDhTimeZone(owner: String, name: String,
      tzv: Option[JValue],
      span: => (java.time.Instant, java.time.Instant))
      : (Long, Option[Seq[(Long, Long)]]) = {
    val TzFixedRe = """([+-])(\d{2}):(\d{2})""".r
    tzv match {
      case None => (0L, None)
      case Some(JString(TzFixedRe(sign, hh, mm))) =>
        val h2 = hh.toLong; val m2 = mm.toLong
        if (h2 > 18 || m2 > 59)
          fail(s"$owner '$name': time_zone offset '$sign$hh:$mm' out of range")
        val s2 = (h2 * 3600L + m2 * 60L) * 1000000L
        (if (sign == "-") -s2 else s2, None)
      case Some(JString(tz)) =>
        val zone = try java.time.ZoneId.of(tz)
          catch { case _: java.time.DateTimeException =>
            fail(s"$owner '$name': time_zone '$tz' is neither a fixed " +
              "+HH:mm/-HH:mm offset nor a known IANA zone id") }
        val (lo, hi) = span
        val tab = zoneTransitionTable(zone, lo, hi)
        if (tab.size > 200)
          fail(s"$owner '$name': zone '$tz' has ${tab.size} transitions " +
            "over the data span (cap 200) — narrow the query's date range")
        (0L, Some(tab))
      case Some(JObject(tzParts)) =>
        val tzm = tzParts.toMap
        tzm.keySet.diff(Set("transitions")).foreach(k =>
          fail(s"$owner '$name': unsupported time_zone option '$k'"))
        val entries: Seq[(Long, Long)] = tzm.get("transitions") match {
          case Some(JArray(es)) if es.nonEmpty => es.map {
            case JArray(List(JString(anchor), JInt(mins))) =>
              val t = try DateMath.parseAnchor(anchor)
                catch { case e: IllegalArgumentException =>
                  fail(s"$owner '$name' transitions: ${e.getMessage}") }
              val us = t.toInstant(java.time.ZoneOffset.UTC)
                .getEpochSecond * 1000000L + t.getNano / 1000L
              if (mins.abs > 18L * 60L)
                fail(s"$owner '$name': transition offset $mins minutes " +
                  "out of range (±18:00)")
              (us, mins.toLong * 60L * 1000000L)
            case other => fail(s"$owner '$name': transitions entries must " +
              s"be [iso_utc_string, offset_minutes]: ${render(other)}")
          }
          case _ => fail(s"$owner '$name': time_zone object needs a " +
            "non-empty transitions array")
        }
        // one chained-CASE branch per entry: cap well under the JVM
        // codegen method limit (the mlt when-chain lesson)
        if (entries.size > 200)
          fail(s"$owner '$name': at most 200 transitions (got ${entries.size})")
        entries.map(_._1).sliding(2).foreach {
          case Seq(a, b) => if (b <= a) fail(s"$owner '$name': " +
            "transitions must be strictly ascending in time")
          case _ => ()
        }
        (0L, Some(entries))
      case Some(other) => fail(s"$owner '$name': time_zone must be a " +
        s"fixed offset, an IANA zone id, or a transitions object: " +
        s"${render(other)}")
    }
  }

  /** The piecewise-constant offset lookup as ONE chained CASE: last
    * entry at-or-before the instant wins (descending `when`s, base as
    * `otherwise`). Used for both the doc-offset rule (UTC instants)
    * and the boundary-offset rule (local activations).
    */
  private[search] def transOffsetCase(um: Column,
      tab: Seq[(Long, Long)]): Column = {
    val cases = tab.reverse.dropRight(1) // descending, sans base
    if (cases.isEmpty) lit(tab.head._2)
    else cases.tail.foldLeft(
      when(um >= lit(cases.head._1), lit(cases.head._2))) {
        case (acc, (ts, off)) => acc.when(um >= lit(ts), lit(off))
      }.otherwise(lit(tab.head._2))
  }

  /** A transition table re-keyed by LOCAL activation (utc_ts + its
    * offset) — the boundary-offset rule's domain. Validates the
    * activations stay strictly ascending (an offset jump larger than
    * the gap between transitions would make the boundary rule
    * ambiguous).
    */
  private[search] def localActivationTable(owner: String, name: String,
      tab: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val local = tab.map { case (ts, off) => (ts + off, off) }
    local.map(_._1).sliding(2).foreach {
      case Seq(a, b) => if (b <= a) fail(s"$owner '$name': " +
        "transition local activations must be strictly ascending " +
        "(an offset jump larger than the gap between transitions)")
      case _ => ()
    }
    local
  }

  /** Driver-side twin of [[transOffsetCase]]: the offset in force at
    * `u` under the ascending table (last entry at-or-before, base
    * otherwise).
    */
  private[search] def offsetAtUs(u: Long, tab: Seq[(Long, Long)]): Long = {
    var o = tab.head._2; var i = 0
    while (i < tab.length && tab(i)._1 <= u) { o = tab(i)._2; i += 1 }
    o
  }

  private def ldtOfUs(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
  private def usOfLdt(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L

  /** Truncate a LOCAL-frame micro instant to its bucket boundary. */
  private def truncLocal(l: Long, step: Either[String, Long]): Long =
    step match {
      case Right(iv) => l - Math.floorMod(l, iv)
      case Left(unit) =>
        val d = ldtOfUs(l).toLocalDate
        val d2 = unit match {
          case "DAY"   => d
          case "MONTH" => d.withDayOfMonth(1)
          case "YEAR"  => d.withDayOfYear(1)
          case other   => fail(s"localDenseKeys: unsupported unit '$other'")
        }
        usOfLdt(d2.atStartOfDay)
    }

  /** One bucket step forward in the LOCAL frame. */
  private def nextLocal(l: Long, step: Either[String, Long]): Long =
    step match {
      case Right(iv)     => l + iv
      case Left("DAY")   => usOfLdt(ldtOfUs(l).plusDays(1))
      case Left("MONTH") => usOfLdt(ldtOfUs(l).plusMonths(1))
      case Left("YEAR")  => usOfLdt(ldtOfUs(l).plusYears(1))
      case Left(other)   => fail(s"localDenseKeys: unsupported unit '$other'")
    }

  /** The driver-side twin of the compiled lTrunc expression:
    * lTrunc(u) = trunc((u + off(u)) − offUs) + offUs.
    */
  private[search] def lTruncOfUs(u: Long, step: Either[String, Long],
      offUs: Long, tab: Seq[(Long, Long)]): Long =
    truncLocal(u + offsetAtUs(u, tab) - offUs, step) + offUs

  /** Dense bucket-key series for `min_doc_count: 0` when keys have NO
    * constant UTC step (calendar intervals; transition-table / named
    * time zones): iterate bucket boundaries in LOCAL wall time on the
    * driver from `ltStart` to `ltEnd` (both already-truncated LOCAL
    * boundaries — the caller supplies the EXACT min/max doc boundary,
    * see the fill construction: doc→lTrunc is not monotone in UTC
    * across a fall-back, so truncating the span's endpoints would
    * leave holes), mapping each back to its UTC key with exactly the
    * per-document algebra the compiled expression runs —
    *
    *   key(L) = L − off2(L)
    *
    * where `off2` is the boundary-offset rule (last entry whose LOCAL
    * activation is at-or-before the boundary). Stepping is
    * `plusDays/plusMonths/plusYears` (or a fixed micro step) in the
    * offset-shifted local frame, so the local day containing a DST
    * transition is ONE bucket — 23h/25h wide in UTC — and a boundary
    * landing in a spring-forward gap deduplicates onto the real
    * bucket (`distinct`), matching the per-doc mapping which can never
    * produce the phantom key. Capped at 100k keys like the
    * range-generated series.
    */
  private[search] def localDenseKeys(ltStart: Long, ltEnd: Long,
      step: Either[String, Long], offUs: Long,
      localTab: Seq[(Long, Long)]): Seq[Long] = {
    if (ltEnd < ltStart) Seq.empty
    else {
      var lt = ltStart
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      while (lt <= ltEnd) {
        buf += lt - offsetAtUs(lt, localTab)
        if (buf.size > 100000)
          fail("date_histogram min_doc_count: 0 would emit more than " +
            "100000 buckets (cap 100000) - widen the interval")
        lt = nextLocal(lt - offUs, step) + offUs
      }
      buf.distinct.sorted[Long].toSeq
    }
  }

  /** `auto_date_histogram`: the FINEST calendar interval (day →
    * month → year) whose bucket span stays within `buckets` — the
    * OpenSearch auto-sizing rule made deterministic. The span is the
    * calendar distance between the HIT SET's min and max field values
    * (the OpenSearch contract: a query narrowed to one week over a
    * multi-year table buckets by day, not year), computed as one
    * column-pruned, filter-pushed min/max aggregate and cached per
    * (hit-plan, field, source freshness) — see [[dateSpanCache]] —
    * so a repeated request compiles with zero extra Spark work and
    * the per-request data path is exactly ONE date_trunc groupBy over
    * the hits. Span-based counting is an upper bound on distinct
    * buckets, so the requested cap is never exceeded. Output carries
    * the chosen `interval` (the OpenSearch response field).
    */
  private[search] def autoDateHistogramAgg(table: DataFrame, hits: DataFrame,
      name: String, spec: JValue, subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"auto_date_histogram '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "buckets", "minimum_interval", "time_zone"))
      .foreach(k =>
        fail(s"unsupported auto_date_histogram option '$k' in '$name'"))
    val f = strOpt(m, "field")
      .getOrElse(fail(s"auto_date_histogram '$name' needs a field"))
    val target = intOpt(m, "buckets").getOrElse(10)
    if (target < 1) fail("auto_date_histogram buckets must be >= 1")
    // `minimum_interval`: floor the derived unit — the caller knows
    // the data's granularity and skips pointless fine units (the
    // OpenSearch rounding hint). Ranks within the engine's unit set.
    val minRank: Int = strOpt(m, "minimum_interval") match {
      case None          => 0
      case Some("day")   => 0
      case Some("month") => 1
      case Some("year")  => 2
      case Some(other) => fail(s"auto_date_histogram minimum_interval " +
        s"must be day|month|year (the engine's unit set), got '$other'")
    }
    // NULL-dated docs are omitted (the engine's null-key-omitted
    // convention, same as multi_terms/rare_terms) — min/max already
    // skip them, so without this filter the output could carry a NULL
    // bucket the unit choice never counted, exceeding the requested cap
    val dated = hits.filter(col(f).isNotNull)
    val span = hitDateSpan(hits, f)
    // time_zone: the SAME grammar and bucketing machinery as
    // date_histogram (parseDhTimeZone → local-truncate → boundary
    // unmap), and the auto-sizing counts buckets over the LOCAL span
    // — a query whose UTC span clips a local calendar boundary must
    // size by the local bucket count, or the chosen unit could exceed
    // the requested cap by one bucket.
    val (tzOffUs, tabOpt) = parseDhTimeZone("auto_date_histogram", name,
      m.get("time_zone"), span match {
        case Some((a, b)) => (a.toInstant(java.time.ZoneOffset.UTC),
          b.toInstant(java.time.ZoneOffset.UTC))
        case None => (java.time.Instant.EPOCH, java.time.Instant.EPOCH)
      })
    val localTab = tabOpt.map(localActivationTable("auto_date_histogram", name, _))
    import java.time.temporal.ChronoUnit
    val unit = span match {
      case None => "day" // all-NULL column: the bucket table is empty anyway
      case Some((lo, hi)) =>
        def localDate(t: java.time.LocalDateTime): java.time.LocalDate = {
          val us = t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000L
          val off = tabOpt.map(offsetAtUs(us, _)).getOrElse(tzOffUs)
          t.plusNanos((off * 1000L) % 1000000000L)
            .plusSeconds(off / 1000000L).toLocalDate
        }
        val (loD, hiD) = (localDate(lo), localDate(hi))
        val days = ChronoUnit.DAYS.between(loD, hiD) + 1
        val months = ChronoUnit.MONTHS.between(
          loD.withDayOfMonth(1), hiD.withDayOfMonth(1)) + 1
        if (days <= target && minRank <= 0) "day"
        else if (months <= target && minRank <= 1) "month"
        else "year"
    }
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) => s.flatMap { case (n, sp) => metricCols(n, sp, schema = hits.schema) }
      case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    val keyExpr: Column = tabOpt match {
      case None if tzOffUs == 0L => date_trunc(unit.toUpperCase, col(f))
      case None =>
        timestamp_micros(unix_micros(date_trunc(unit.toUpperCase,
          timestamp_micros(unix_micros(col(f)) + lit(tzOffUs))))
          - lit(tzOffUs))
      case Some(tab) =>
        val um0 = unix_micros(col(f))
        val local = um0 + transOffsetCase(um0, tab)
        val lTrunc = unix_micros(date_trunc(unit.toUpperCase,
          timestamp_micros(local)))
        timestamp_micros(lTrunc - transOffsetCase(lTrunc, localTab.get))
    }
    dated.groupBy(keyExpr.as(name))
      .agg(count(lit(1)).as("doc_count"), subs: _*)
      .withColumn("interval", lit(unit))
      .orderBy(col(name).asc)
  }

  /** `multi_terms` bucket agg: terms over a composite key — ONE
    * groupBy shuffle on all key fields together (never a join of
    * per-field terms tables). A terms entry is `{field}` or
    * `{field, missing}`: with `missing`, docs without a value for
    * THAT field land in the named substitute bucket (a plain
    * coalesce, the groupBy stays one shuffle — the terms-agg
    * `missing` rule applied per key part); without it, docs missing
    * the field are skipped entirely (the OpenSearch rule: ANY
    * missing-and-unsubstituted key part drops the doc, same
    * engine-portability choice as `composite`). Output: one column
    * per key field, `doc_count`, metric sub-aggs; ordered doc_count
    * desc then keys asc, top `size` (default 10).
    */
  private[search] def multiTermsAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"multi_terms agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("terms", "size")).foreach(k =>
      fail(s"unsupported multi_terms option '$k' in '$name'"))
    val fields: Seq[(String, Option[JValue])] = m.get("terms") match {
      case Some(JArray(ts)) if ts.size >= 2 => ts.map {
        case JObject(tparts) =>
          val tm = tparts.toMap
          tm.keySet.diff(Set("field", "missing")).foreach(k =>
            fail(s"unsupported multi_terms terms-entry option '$k' in '$name'"))
          val f = strOpt(tm, "field").getOrElse(
            fail(s"multi_terms terms entries need a field in '$name'"))
          (f, tm.get("missing"))
        case other => fail(s"multi_terms terms entries must be " +
          s"{field, missing?}: ${render(other)}")
      }
      case _ => fail(s"multi_terms agg '$name' needs a terms array of >= 2 fields")
    }
    if (fields.map(_._1).distinct.size != fields.size)
      fail(s"multi_terms agg '$name' repeats a field")
    val size = intOpt(m, "size").getOrElse(10)
    if (size < 1) fail("multi_terms size must be >= 1")
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) => s.flatMap { case (n, sp) => metricCols(n, sp, schema = hits.schema) }
      case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    val keyCols = fields.map { case (f, miss) =>
      miss.fold(col(f))(v => coalesce(col(f), litOf(v))).as(f)
    }
    // only unsubstituted key parts skip docs — a coalesced part is
    // never NULL, so its filter would be a no-op
    val skip = fields.collect { case (f, None) => col(f).isNotNull }
    skip.reduceOption(_ && _).fold(hits)(hits.filter)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("doc_count"), subs: _*)
      .orderBy(col("doc_count").desc +: fields.map(f => col(f._1).asc): _*)
      .limit(size)
  }

  /** `filters` bucket agg: named, freely-overlapping buckets, each
    * defined by a full sub-query — compiled through the same one-pass
    * filtered-aggregate machinery as `range` (one partial-agg
    * exchange, never a scan per bucket), rows in request order.
    */
  private[search] def filtersAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"filters agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("filters", "other_bucket", "other_bucket_key"))
      .foreach(k => fail(s"unsupported filters option '$k' in agg '$name'"))
    val named: Seq[(Column, String)] = m.get("filters") match {
      case Some(JObject(fs)) if fs.nonEmpty =>
        fs.map { case (bname, q) => (compileQuery(q).pred, bname) }
      // the ANONYMOUS array form: buckets named by position ("0",
      // "1", … — the OpenSearch convention), same one-pass compile
      case Some(JArray(fs)) if fs.nonEmpty =>
        fs.zipWithIndex.map { case (q, i) => (compileQuery(q).pred, i.toString) }
      case _ => fail(s"filters agg '$name' requires a non-empty keyed " +
        "filters object or filters array")
    }
    // `other_bucket`: a trailing bucket counting docs that match NO
    // named filter (the OpenSearch remainder bucket) — one more
    // conditional aggregate in the SAME one-pass row, no extra scan;
    // `other_bucket_key` renames it (and implies it, as in OpenSearch)
    val otherKey: Option[String] = (m.get("other_bucket"), m.get("other_bucket_key")) match {
      case (_, Some(JString(k)))      => Some(k)
      case (_, Some(other))           => fail(s"other_bucket_key must be a string: ${render(other)}")
      case (Some(JBool(true)), None)  => Some("_other_")
      case (Some(JBool(false)), None) => None
      case (Some(other), None)        => fail(s"other_bucket must be a boolean: ${render(other)}")
      case (None, None)               => None
    }
    val buckets = otherKey match {
      case None => named
      case Some(k) =>
        if (named.exists(_._2 == k))
          fail(s"filters agg '$name': other bucket key '$k' collides with a named filter")
        named :+ ((named.map(!_._1).reduce(_ && _), k))
    }
    onePassBuckets(hits, name, buckets, subAggs, family = "filters")
  }

  /** `composite` bucket agg: multi-source buckets in source-key order
    * with `after` keyset paging — the scalable deep-pagination form
    * (the q45 contract). The cursor compiles to a lexicographic
    * strictly-after predicate BEFORE the groupBy, so a page deep in
    * the bucket space prunes at the scan and aggregates only what
    * can appear on the page's side of the cursor. Sources: `terms` on
    * a field (ascending). Sub-aggs: metric columns.
    */
  private[search] def compositeAgg(hits: DataFrame, name: String, spec: JValue,
      subAggs: Option[JValue]): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"composite agg '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("sources", "size", "after")).foreach(k =>
      fail(s"unsupported composite option '$k' in agg '$name'"))
    // a source is the raw field (`terms`) or a DERIVED bucket key
    // (`histogram` / `date_histogram` — the OpenSearch time+key
    // pagination shape); derived keys are projected once up front so
    // the after-keyset, NULL filter, groupBy and order all see one
    // plain column
    sealed case class Src(name: String, derived: Option[Column], isDate: Boolean)
    val parsed: Seq[Src] = m.get("sources") match {
      case Some(JArray(ss)) if ss.nonEmpty => ss.map {
        case JObject(List((srcName, JObject(List((kind, JObject(t))))))) =>
          val tm = t.toMap
          val f = strOpt(tm, "field")
            .getOrElse(fail(s"composite source '$srcName' needs a field"))
          kind match {
            case "terms" =>
              tm.keySet.diff(Set("field")).foreach(k =>
                fail(s"unsupported composite terms source key '$k'"))
              if (srcName != f)
                fail(s"composite source name '$srcName' must equal its field '$f' " +
                  "(the output column carries one name)")
              Src(srcName, None, isDate = false)
            case "histogram" =>
              tm.keySet.diff(Set("field", "interval")).foreach(k =>
                fail(s"unsupported composite histogram source key '$k'"))
              val iv = tm.get("interval") match {
                case Some(JInt(i)) if i > 0 => i.toLong
                case _ => fail(s"composite histogram source '$srcName' needs " +
                  "a positive integer interval")
              }
              Src(srcName,
                Some((floor(col(f) / lit(iv)) * lit(iv)).cast("long")),
                isDate = false)
            case "date_histogram" =>
              tm.keySet.diff(Set("field", "calendar_interval")).foreach(k =>
                fail(s"unsupported composite date_histogram source key '$k'"))
              Src(srcName, Some(date_trunc(calendarUnit(
                strOpt(tm, "calendar_interval").getOrElse("day")), col(f))),
                isDate = true)
            case other =>
              fail(s"composite source '$srcName' kind must be " +
                s"terms/histogram/date_histogram: '$other'")
          }
        case other => fail(s"composite sources must be {name: {kind: {field}}}: ${render(other)}")
      }
      case _ => fail(s"composite agg '$name' requires a non-empty sources array")
    }
    if (parsed.map(_.name).distinct.size != parsed.size)
      fail(s"composite agg '$name' repeats a source name")
    parsed.foreach(p =>
      if (p.derived.isDefined && hits.columns.contains(p.name))
        fail(s"composite derived source '${p.name}' collides with a column"))
    val sources: Seq[String] = parsed.map(_.name)
    val keyed = parsed.foldLeft(hits) {
      case (df, Src(n, Some(e), _)) => df.withColumn(n, e)
      case (df, _)                  => df
    }
    val size = intOpt(m, "size").getOrElse(10)
    val paged = m.get("after") match {
      case None => keyed
      case Some(JObject(af)) =>
        if (parsed.exists(_.isDate))
          fail("composite after is unsupported with a date_histogram source " +
            "(no portable literal form for the bucket key)")
        val afm = af.toMap
        val vals = sources.map(f => afm.getOrElse(f,
          fail(s"composite after must carry a value for source '$f'")))
        keyed.filter(keysetAfter(sources.map((_, "asc")), vals.map(scalaOf)))
      case Some(other) => fail(s"composite after must be an object: ${render(other)}")
    }
    val subs: Seq[Column] = subAggs match {
      case None             => Nil
      case Some(JObject(s)) => s.flatMap { case (n, sp) => metricCols(n, sp, schema = hits.schema) }
      case Some(other)      => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    // OpenSearch composite SKIPS documents missing a source value (and
    // Spark's default asc is NULLS FIRST where most SQL engines default
    // NULLS LAST) — drop NULL-keyed rows before the groupBy so the
    // bucket space is engine-portable and no NULL bucket appears
    paged.filter(sources.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(sources.map(col): _*)
      .agg(count(lit(1)).as("doc_count"), subs: _*)
      .orderBy(sources.map(col(_).asc): _*)
      .limit(size)
  }

  /** Shared tail of the filtered-bucket families (`range`, `filters`):
    * per-bucket conditional aggregates computed in ONE global
    * aggregate row, reshaped to one row per bucket in request order.
    * Sub-aggs: single-column metrics (no stats fan-out).
    */
  private[search] def onePassBuckets(hits: DataFrame, name: String,
      buckets0: Seq[(Column, String)], subAggs: Option[JValue],
      family: String): DataFrame = {
    val subEntries: Seq[(String, JValue)] = subAggs match {
      case None                 => Nil
      case Some(JObject(s))     => s
      case Some(other)          => fail(s"aggs.$name.aggs must be an object: ${render(other)}")
    }
    val aggCols = buckets0.zipWithIndex.flatMap { case ((cond, _), i) =>
      count(when(cond, 1L)).as(s"__dc$i") +:
        subEntries.zipWithIndex.map { case ((subName, subSpec), j) =>
          val cols = metricCols(s"__s${i}_$j", subSpec, Some(cond), hits.schema)
          if (cols.size != 1)
            fail(s"$family sub-agg '$subName' must be a single-column metric")
          cols.head
        }
    }
    val aggRow = hits.agg(aggCols.head, aggCols.tail: _*)
    val buckets = buckets0.zipWithIndex.map { case ((_, key), i) =>
      struct(
        (lit(i.toLong).as("__ord") +: lit(key).as(name) +:
          col(s"__dc$i").as("doc_count") +:
          subEntries.zipWithIndex.map { case ((subName, _), j) =>
            col(s"__s${i}_$j").as(subName)
          }): _*)
    }
    aggRow.select(explode(array(buckets: _*)).as("__b"))
      .select(col("__b.*"))
      .orderBy(col("__ord"))
      .drop("__ord")
  }

  /** `significant_terms`: field values over-represented among the hits
    * (foreground = the request's query) vs the WHOLE table (background),
    * scored by the doc-frequency ratio in exact integer ppm — the q49
    * model with keyword (whole-value) semantics. One groupBy over the
    * base table carrying both counts; the two totals ride along as a
    * broadcast one-row aggregate — a single declarative plan.
    */
  private[search] def significantTermsAgg(table: DataFrame, pred: Column,
      name: String, spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"significant_terms '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "min_doc_count", "size", "background_filter"))
      .foreach(k => fail(s"unsupported significant_terms option '$k'"))
    val f = strOpt(m, "field").getOrElse(fail(s"significant_terms '$name' needs a field"))
    val minDoc = intOpt(m, "min_doc_count").getOrElse(1)
    val size = intOpt(m, "size").getOrElse(10)
    // `background_filter`: the lift baseline becomes a SUBSET of the
    // index (compare against last month / this segment) instead of the
    // whole corpus. The foreground is INTERSECTED with the background
    // (fg ⊆ bg by construction — OpenSearch leaves a disjoint
    // foreground to produce undefined ratios; here bg_count = 0 with
    // doc_count > 0, a divide-by-zero, is made impossible instead),
    // and vocabulary outside the background drops. Scores stay the
    // same exact integer ppm ratio. Still ONE corpus scan: both
    // counts are conditional aggregates in the same groupBy.
    val bgPred: Option[Column] =
      m.get("background_filter").map(q => compileQuery(q).pred)
    val basePred = bgPred.getOrElse(lit(true))
    val perTerm0 = table.groupBy(col(f).as(name)).agg(
      sum(when(basePred, 1L).otherwise(0L)).as("bg_count"),
      sum(when(pred && basePred, 1L).otherwise(0L)).as("doc_count"))
    val perTerm =
      if (bgPred.isEmpty) perTerm0
      else perTerm0.filter(col("bg_count") >= 1L)
    // totals derive from the grouped table (a vocabulary-bounded
    // second aggregate), never a second corpus scan re-running the
    // tokenize/intersect predicate per row
    val totals = perTerm.agg(
      sum(col("bg_count")).as("n_all"), sum(col("doc_count")).as("n_fg"))
    val score = sigScorePpm("significant_terms")
    perTerm.crossJoin(broadcast(totals))
      .filter(col("doc_count") >= minDoc)
      .select(col(name), col("doc_count"), col("bg_count"),
        score.as("score_ppm"))
      .orderBy(col("score_ppm").desc, col(name))
      .limit(size)
  }

  /** The significant-families' exact integer ppm ratio with the
    * overflow raise_error — (doc_count·n_all·10⁶)/(bg_count·n_fg),
    * failing loud near ~3M x 3M docs instead of silently wrapping and
    * mis-ranking. Shared by significant_terms and significant_text so
    * the two scores can never drift.
    */
  private[search] def sigScorePpm(family: String): Column =
    when(
      col("doc_count") > expr("9223372036854775807 div 1000000 div n_all"),
      raise_error(lit(s"$family score overflow: corpus too " +
        "large for the exact ppm formula")).cast("long"))
    .otherwise(expr("(doc_count * n_all * 1000000) div (bg_count * n_fg)"))

  /** `significant_text`: tokens over-represented among the hits vs the
    * whole corpus — significant_terms' document-frequency model over
    * free text. ONE posexplode-free pass: tokens deduped per document
    * (`array_distinct`, the significant_text re-dedup rule), each row
    * carrying its foreground flag, then one token groupBy with both
    * doc-frequency counts; the two document totals ride along as a
    * broadcast one-row aggregate. Never a per-term corpus rescan.
    */
  private[search] def significantTextAgg(table: DataFrame, pred: Column,
      name: String, spec: JValue): DataFrame = {
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"significant_text '$name' must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("field", "min_doc_count", "size", "analyzer",
      "background_filter")).foreach(k =>
      fail(s"unsupported significant_text option '$k'"))
    val f = strOpt(m, "field").getOrElse(fail(s"significant_text '$name' needs a field"))
    val minDoc = intOpt(m, "min_doc_count").getOrElse(1)
    val size = intOpt(m, "size").getOrElse(10)
    // `background_filter`: the same narrowed-baseline contract as
    // significant_terms — the foreground intersects the background
    // (fg ⊆ bg, divide-by-zero impossible), out-of-background tokens
    // drop, both counts stay conditional aggregates on the one pass
    val bgPred: Option[Column] =
      m.get("background_filter").map(q => compileQuery(q).pred)
    val basePred = bgPred.getOrElse(lit(true))
    // analyzer: significant terms come from the NORMALIZED token
    // stream (one codegen'd normalizer inside the existing split —
    // no new shuffle), so the surfaced terms live in the same term
    // space an analyzed match query hits
    val an = analyzerOpt(m, s"significant_text '$name'")
    // empty tokens (leading/trailing/double spaces) are dropped BEFORE
    // the explode — they are artifacts of the split, not terms, and
    // would otherwise enter the df table and could surface as a top
    // bucket (termsEnum filters the same way)
    val toks = table.select(pred.as("__fg"), basePred.as("__bg"),
      explode(array_remove(array_distinct(split(an.norm(col(f)), " ")), ""))
        .as(name))
    val perTerm0 = toks.groupBy(col(name)).agg(
      sum(when(col("__bg"), 1L).otherwise(0L)).as("bg_count"),
      sum(when(col("__fg") && col("__bg"), 1L).otherwise(0L)).as("doc_count"))
    val perTerm =
      if (bgPred.isEmpty) perTerm0
      else perTerm0.filter(col("bg_count") >= 1L)
    // document totals (NOT token totals — the doc-frequency model):
    // one light global aggregate over the corpus
    val totals = table.agg(
      sum(when(basePred, 1L).otherwise(0L)).as("n_all"),
      sum(when(pred && basePred, 1L).otherwise(0L)).as("n_fg"))
    perTerm.crossJoin(broadcast(totals))
      .filter(col("doc_count") >= minDoc)
      .select(col(name), col("doc_count"), col("bg_count"),
        sigScorePpm("significant_text").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col(name))
      .limit(size)
  }

  /** `top_hits` under a `terms` bucket: the top N hit ROWS per bucket
    * (not a bucket table) — one window over the hits partitioned by the
    * bucket key. The top_hits `sort` must be total per bucket for
    * deterministic output; `_source` picks the hit columns.
    */
  private[search] def topHitsAgg(hits: DataFrame, name: String, field: String,
      spec: JValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = spec match {
      case JObject(s) => s.toMap
      case other => fail(s"top_hits must be an object: ${render(other)}")
    }
    m.keySet.diff(Set("size", "sort", "_source")).foreach(k =>
      fail(s"unsupported top_hits option '$k'"))
    val n = intOpt(m, "size").getOrElse(3)
    val sortSpec = m.get("sort")
      .getOrElse(fail("top_hits requires an explicit sort (determinism)"))
    val srcCols: Seq[Column] = m.get("_source") match {
      case Some(JArray(fields)) => fields.map {
        case JString(s) => col(s)
        case other      => fail(s"_source entries must be strings: ${render(other)}")
      }
      case None        => fail("top_hits requires _source (the hit columns)")
      case Some(other) => fail(s"_source must be an array: ${render(other)}")
    }
    val w = Window.partitionBy(col(field)).orderBy(sortCols(sortSpec): _*)
    hits.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .select((col(field).as(name) +: col("rank") +: srcCols): _*)
      .orderBy(col(name).asc, col("rank").asc)
  }

  /** Metric sub-agg → named aggregate columns. `stats` fans out to
    * count/min/max/avg/sum with `<name>_` prefixes; everything else is a
    * single column named after the agg. Averages are exact-sum/count
    * (the engine's determinism rule), cardinality is EXACT
    * count-distinct (the approximate variant is q7's separate surface).
    * With `cond`, the metric only sees rows satisfying it (the range-agg
    * per-bucket form — nulls elsewhere, which every aggregate ignores).
    */
  private[search] def metricCols(name: String, spec: JValue,
      cond: Option[Column] = None,
      schema: org.apache.spark.sql.types.StructType = null): Seq[Column] = spec match {
    // percentile_ranks: the inverse of `percentiles` — for each given
    // value, the percentage of non-NULL field values ≤ it (the
    // inclusive-CDF discrete form, engine-exact unlike OpenSearch's
    // t-digest): two exact integer counts per value, ONE IEEE divide,
    // so the doubles are bit-identical across engines. One column per
    // value, named `<name>_<v>`.
    case JObject(List(("percentile_ranks", JObject(body)))) =>
      val m = body.toMap
      m.keySet.diff(Set("field", "values")).foreach(k =>
        fail(s"unsupported percentile_ranks option '$k' in '$name'"))
      val f = strOpt(m, "field")
        .getOrElse(fail(s"percentile_ranks '$name' needs a field"))
      val vals: Seq[Long] = m.get("values") match {
        case Some(JArray(vs)) if vs.nonEmpty => vs.map {
          case JInt(i) => i.toLong
          case other => fail(s"percentile_ranks values must be integers " +
            s"(the exact integer model): ${render(other)}")
        }
        case _ => fail(s"percentile_ranks '$name' requires a non-empty values array")
      }
      val gate = cond.getOrElse(lit(true))
      vals.map { v =>
        ((sum(when(gate && col(f) <= lit(v), 1L).otherwise(0L)) * lit(100L))
          .cast("double") / count(when(gate, col(f))).cast("double"))
          .as(s"${name}_$v")
      }
    // geo_centroid: the exact mean point over named lat/lon columns —
    // coordinates reconstructed onto the milli-degree integer grid
    // (the GeoFixtures recipe), summed exactly, ONE IEEE divide per
    // axis, so the centroid doubles are bit-identical across engines.
    case JObject(List(("geo_centroid", JObject(body)))) =>
      val m = body.toMap
      m.keySet.diff(Set("lat_field", "lon_field")).foreach(k =>
        fail(s"unsupported geo_centroid option '$k' in '$name'"))
      val latF = strOpt(m, "lat_field")
        .getOrElse(fail(s"geo_centroid '$name' requires lat_field"))
      val lonF = strOpt(m, "lon_field")
        .getOrElse(fail(s"geo_centroid '$name' requires lon_field"))
      val gate = cond.getOrElse(lit(true))
      def axis(f: String, out: String): Column =
        (sum(when(gate, round(col(f) * lit(1000.0)).cast("long"))).cast("double") /
          (count(when(gate, col(f))) * lit(1000L)).cast("double")).as(out)
      Seq(axis(latF, s"${name}_lat"), axis(lonF, s"${name}_lon"))
    // geo_bounds: the enclosing box — OpenSearch's top_left /
    // bottom_right corners flattened to 4 columns. Pure min/max per
    // axis, zero arithmetic, so the doubles are bit-identical across
    // engines by construction.
    case JObject(List(("geo_bounds", JObject(body)))) =>
      val m = body.toMap
      m.keySet.diff(Set("lat_field", "lon_field")).foreach(k =>
        fail(s"unsupported geo_bounds option '$k' in '$name'"))
      val latF = strOpt(m, "lat_field")
        .getOrElse(fail(s"geo_bounds '$name' requires lat_field"))
      val lonF = strOpt(m, "lon_field")
        .getOrElse(fail(s"geo_bounds '$name' requires lon_field"))
      val gate = cond.getOrElse(lit(true))
      Seq(
        max(when(gate, col(latF))).as(s"${name}_top_lat"),
        min(when(gate, col(lonF))).as(s"${name}_left_lon"),
        min(when(gate, col(latF))).as(s"${name}_bottom_lat"),
        max(when(gate, col(lonF))).as(s"${name}_right_lon"))
    // geo_line (r13): the track-reconstruction aggregation — each
    // bucket's points connected into a line ordered by a sort field
    // (the OpenSearch geo_line contract, explicit lat/lon fields per
    // the engine's geo convention). Engine shape: collect_list of
    // (sort, lat, lon) structs inside the ONE groupBy (partial-agg
    // friendly, no window, no second shuffle), sort_array AFTER
    // collection (no task-order dependence; ties on the sort value
    // break by lat then lon — a deterministic total order the oracle
    // replays), then slice to `size` (default/cap 10000, the
    // OpenSearch truncation rule: the FIRST size points in sort
    // order). Output: `<name>_lats` + `<name>_lons` parallel DOUBLE
    // arrays. Rows with a NULL coordinate or sort value are skipped.
    case JObject(List(("geo_line", JObject(body)))) =>
      val m = body.toMap
      m.keySet.diff(Set("lat_field", "lon_field", "sort_field",
        "sort_order", "size")).foreach(k =>
        fail(s"unsupported geo_line option '$k' in '$name'"))
      val latF = strOpt(m, "lat_field")
        .getOrElse(fail(s"geo_line '$name' requires lat_field"))
      val lonF = strOpt(m, "lon_field")
        .getOrElse(fail(s"geo_line '$name' requires lon_field"))
      val sortF = strOpt(m, "sort_field")
        .getOrElse(fail(s"geo_line '$name' requires sort_field"))
      val asc = strOpt(m, "sort_order").getOrElse("asc") match {
        case "asc"  => true
        case "desc" => false
        case other  => fail(s"geo_line '$name' sort_order must be " +
          s"asc or desc, got '$other'")
      }
      val sz = intOpt(m, "size").getOrElse(10000)
      if (sz < 1 || sz > 10000)
        fail(s"geo_line '$name' size must be 1-10000, got $sz")
      val gate = cond.getOrElse(lit(true))
      // bounded-heap track (r14, VERDICT r13 #2): the TopKTrack typed
      // aggregate keeps ≤ 2·size triples per bucket through map-side
      // combine instead of collecting the whole bucket and slicing —
      // same (sort, lat, lon) total order, same output, O(size) state
      // (GeoLineHeapSpec pins a bucket ≫ size and the plan shape).
      // The sort value rides as DOUBLE: exact for |v| ≤ 2⁵³ — every
      // numeric/date sort field a track carries; beyond that the
      // ORDER of distinct >2⁵³ longs could coarsen, documented.
      val ok = gate && col(latF).isNotNull && col(lonF).isNotNull &&
        col(sortF).isNotNull
      // Validate the sort field's type at compile (when the schema is
      // in hand): a string field would cast to NULL and the coalesce
      // below would collapse every row to a 0.0 tie, silently degrading
      // the track order to (lat, lon); a DATE fails Spark's date→double
      // analysis outright. Numeric/timestamp cast exactly; dates are
      // converted explicitly via timestamp. Anything else fails loud.
      val sortCol: Column =
        (if (schema != null) schema.find(_.name == sortF).map(_.dataType)
         else None) match {
          case Some(_: org.apache.spark.sql.types.NumericType) |
               Some(org.apache.spark.sql.types.TimestampType) =>
            col(sortF).cast("double")
          case Some(org.apache.spark.sql.types.DateType) =>
            col(sortF).cast("timestamp").cast("double")
          case Some(other) =>
            fail(s"geo_line '$name' sort_field '$sortF' must be numeric, " +
              s"date, or timestamp, got ${other.simpleString}")
          case None => col(sortF).cast("double")
        }
      val track = udaf(new graft.functions.Aggregators.TopKTrack(sz, asc))
        .apply(ok,
          coalesce(sortCol, lit(0.0)),
          coalesce(col(latF).cast("double"), lit(0.0)),
          coalesce(col(lonF).cast("double"), lit(0.0)))
      Seq(
        track.getField("_1").as(s"${name}_lats"),
        track.getField("_2").as(s"${name}_lons"))
    // weighted_avg: nested value/weight sub-objects (the OpenSearch
    // shape), exact Σ(v·w)/Σ(w) — two integer sums, ONE IEEE divide,
    // so the double is bit-identical across engines.
    // t_test: Welch's (heteroscedastic, the OpenSearch default) or
    // pooled (homoscedastic) two-sample t statistic from the exact
    // integer moments (the extended_stats model: integral fields
    // only, ENFORCED) — sample variances va=(nΣx²−(Σx)²)/(n(n−1))
    // and a PINNED IEEE op order, so DuckDB replays the double
    // bit-identically. `paired` fails loud: it needs a row-pairing
    // the wire shape cannot express.
    case JObject(List(("t_test", JObject(body)))) =>
      val m = body.toMap
      m.keySet.diff(Set("a", "b", "type")).foreach(k =>
        fail(s"unsupported t_test option '$k' in '$name'"))
      def arm(key: String): (Column, String) = m.get(key) match {
        case Some(JObject(am0)) =>
          val am = am0.toMap
          am.keySet.diff(Set("field", "filter")).foreach(k =>
            fail(s"unsupported t_test $key option '$k' in '$name'"))
          val f = strOpt(am, "field")
            .getOrElse(fail(s"t_test '$name' arm '$key' needs a field"))
          if (schema != null) Option(schema).flatMap(_.find(_.name == f))
            .map(_.dataType).foreach {
              case org.apache.spark.sql.types.DoubleType |
                   org.apache.spark.sql.types.FloatType |
                   _: org.apache.spark.sql.types.DecimalType =>
                fail(s"t_test on '$f' requires an integral field (the exact " +
                  "long moment model) - pre-scale to integers first")
              case _ => ()
            }
          val armGate = am.get("filter").map(compileQuery(_).pred)
          val gate = (cond.toSeq ++ armGate.toSeq)
            .reduceOption(_ && _).getOrElse(lit(true))
          (when(gate, col(f).cast("long")), f)
        case _ => fail(s"t_test '$name' needs a '$key' arm object")
      }
      val (ca, _) = arm("a")
      val (cb, _) = arm("b")
      val (na, sa, qa) = (count(ca), sum(ca), sum(ca * ca))
      val (nb, sb, qb) = (count(cb), sum(cb), sum(cb * cb))
      val meanDiff = sa.cast("double") / na.cast("double") -
        sb.cast("double") / nb.cast("double")
      val vaN = na * qa - sa * sa // n·Σx² − (Σx)² — exact long
      val vbN = nb * qb - sb * sb
      val t = strOpt(m, "type").getOrElse("heteroscedastic") match {
        case "heteroscedastic" =>
          // va/na = vaN/(na·(na−1)·na) — exact denominator, ONE divide
          val sea = vaN.cast("double") / (na * (na - 1) * na).cast("double")
          val seb = vbN.cast("double") / (nb * (nb - 1) * nb).cast("double")
          meanDiff / sqrt(sea + seb)
        case "homoscedastic" =>
          // sp² = ((na−1)va + (nb−1)vb)/(na+nb−2) with (n−1)v = vN/n;
          // the 1/na+1/nb factor stays exact as (na+nb)/(na·nb)
          val sp2 = (vaN.cast("double") / na.cast("double") +
            vbN.cast("double") / nb.cast("double")) /
            (na + nb - 2).cast("double")
          meanDiff / sqrt(sp2 * ((na + nb).cast("double") / (na * nb).cast("double")))
        case "paired" => fail("t_test type 'paired' is unsupported: it needs " +
          "a row pairing the wire shape cannot express (join the two series " +
          "and t_test the difference column instead)")
        case other => fail(s"t_test type must be heteroscedastic/" +
          s"homoscedastic: '$other'")
      }
      Seq(t.as(name))
    case JObject(List(("weighted_avg", JObject(body)))) =>
      val m = body.toMap
      m.keySet.diff(Set("value", "weight")).foreach(k =>
        fail(s"unsupported weighted_avg option '$k' in '$name'"))
      def fieldOf(k: String): String = m.get(k) match {
        case Some(JObject(o)) => strOpt(o.toMap, "field")
          .getOrElse(fail(s"weighted_avg '$name' $k needs a field"))
        case _ => fail(s"weighted_avg '$name' needs {$k: {field}}")
      }
      val (v, w) = (col(fieldOf("value")), col(fieldOf("weight")))
      val gate = cond.getOrElse(lit(true))
      Seq((sum(when(gate, v * w)).cast("double") /
        sum(when(gate, w)).cast("double")).as(name))
    // top_metrics: the metric field's value on the top row under the
    // sort. Ties on the sort key are broken by the metric value itself
    // (struct comparison is lexicographic) so the answer is
    // deterministic — never "whichever partition finished last".
    case JObject(List(("top_metrics", JObject(body)))) =>
      val m = body.toMap
      m.keySet.diff(Set("metrics", "sort")).foreach(k =>
        fail(s"unsupported top_metrics option '$k' in '$name'"))
      val metricF = m.get("metrics") match {
        case Some(JObject(o)) => strOpt(o.toMap, "field")
          .getOrElse(fail(s"top_metrics '$name' metrics needs a field"))
        case _ => fail(s"top_metrics '$name' needs {metrics: {field}}")
      }
      val (sortF, order) = m.get("sort") match {
        case Some(JObject(List((f, JString(o))))) => (f, o)
        case Some(JObject(List((f, JObject(oo))))) =>
          (f, strOpt(oo.toMap, "order").getOrElse("asc"))
        case _ => fail(s"top_metrics '$name' needs {sort: {field: order}}")
      }
      val pair = struct(col(sortF).as("s"), col(metricF).as("m"))
      val gated = cond.map(p => when(p, pair)).getOrElse(pair)
      val top = order match {
        case "desc" => max(gated)
        case "asc"  => min(gated)
        case other  => fail(s"top_metrics sort order must be asc/desc: '$other'")
      }
      Seq(top.getField("m").as(name))
    // scripted_metric, deterministic shape: a [[ScoreScript]] map
    // expression over doc fields + params, combined by an associative
    // reduce (sum/min/max). The script compiles ONCE on the driver to
    // codegen'd arithmetic inside the partial aggregate — the
    // anti-UDF rule applied to OpenSearch's most UDF-shaped agg.
    // (No init/combine scripts: the reduce names the monoid instead,
    // which is what makes the agg distributable BY CONSTRUCTION.)
    case JObject(List(("scripted_metric", JObject(body)))) =>
      val m = body.toMap
      m.keySet.diff(Set("map_script", "reduce", "params")).foreach(k =>
        fail(s"unsupported scripted_metric option '$k' in '$name'"))
      val src = strOpt(m, "map_script")
        .getOrElse(fail(s"scripted_metric '$name' needs a map_script"))
      // token-level check: "doc['raw_score'].value" contains the
      // substring but never the _score token
      if (ScoreScript.referencesScore(src))
        fail(s"scripted_metric '$name' map_script sees doc fields and " +
          "params only (no _score)")
      val params: Map[String, Long] = m.get("params") match {
        case Some(JObject(po)) => po.map {
          case (k, JInt(v)) => k -> v.toLong
          case (k, other) =>
            fail(s"scripted_metric param '$k' must be an integer: ${render(other)}")
        }.toMap
        case None        => Map.empty
        case Some(other) => fail(s"scripted_metric params must be an object: ${render(other)}")
      }
      val mapped0 = ScoreScript.compile(src, params, lit(0L))
      val mapped = cond.map(p => when(p, mapped0)).getOrElse(mapped0)
      val reduced = strOpt(m, "reduce")
        .getOrElse(fail(s"scripted_metric '$name' needs a reduce (sum/min/max)")) match {
        case "sum" => sum(mapped)
        case "min" => min(mapped)
        case "max" => max(mapped)
        case other => fail(s"scripted_metric reduce must be sum/min/max: '$other'")
      }
      Seq(reduced.as(name))
    case JObject(List((metric, JObject(body)))) =>
      val bm = body.toMap
      // strict option validation per metric kind — unknown options
      // fail loud instead of being silently ignored (a request asking
      // for behavior the engine doesn't implement must say so)
      val allowedOpts: Set[String] = metric match {
        case "percentiles" => Set("field", "percents")
        case "cardinality" => Set("field", "precision_threshold")
        case _             => Set("field")
      }
      bm.keySet.diff(allowedOpts).foreach(k =>
        fail(s"unsupported $metric option '$k' in '$name'"))
      val f = strOpt(bm, "field")
        .getOrElse(fail(s"metric agg '$name' ($metric) needs a field"))
      val c = cond.map(p => when(p, col(f))).getOrElse(col(f))
      metric match {
        case "avg"   => Seq((sum(c).cast("double") / count(c)).as(name))
        case "min"   => Seq(min(c).as(name))
        case "max"   => Seq(max(c).as(name))
        case "sum"   => Seq(sum(c).as(name))
        case "value_count" => Seq(count(c).as(name))
        // cardinality: EXACT count-distinct by default (the engine's
        // determinism rule). `precision_threshold` opts into the
        // APPROXIMATE HLL++ sketch (OpenSearch's own semantics — its
        // cardinality is always approximate): rsd = 1.04/√threshold,
        // the HLL register-count relation, so a bigger threshold
        // means a tighter sketch exactly as in OpenSearch. Approx
        // results are deterministic within the engine but have no
        // cross-engine oracle (q7's rule) — gate with the error-bound
        // spec, not a hash.
        case "cardinality" =>
          bm.get("precision_threshold") match {
            case None => Seq(countDistinct(c).as(name))
            case Some(JInt(t)) if t >= 100 && t <= 40000 =>
              val rsd = 1.04 / math.sqrt(t.toDouble)
              Seq(approx_count_distinct(c, rsd).as(name))
            case Some(other) => fail(s"cardinality precision_threshold must " +
              s"be an integer in [100, 40000]: ${render(other)}")
          }
        case "stats" => Seq(
          count(c).as(s"${name}_count"),
          min(c).as(s"${name}_min"),
          max(c).as(s"${name}_max"),
          (sum(c).cast("double") / count(c)).as(s"${name}_avg"),
          sum(c).as(s"${name}_sum"))
        // extended_stats: stats + exact integer second moment. Variance
        // is population variance computed FROM THE EXACT INTEGER MOMENTS
        // — (n·Σx² − (Σx)²)/n² in one IEEE divide — so the doubles are
        // bit-identical across engines (a naive running-mean variance
        // would depend on partition order). Integral fields only. The
        // moments are formed over the column CAST TO LONG (matching
        // matrix_stats): an IntegerType field would otherwise square in
        // 32-bit and silently wrap (non-ANSI) at |x| ≥ 46341 — a regime
        // the Long-bound guard below cannot see. With long moments the
        // products are bounded at √Long.Max ≈ 3e9 by the raise_error
        // guard: under ANSI the wrap already throws, and in an ANSI-off
        // deployment the guard (built from count/max, which never
        // wrap) still fails loud instead of emitting a silently-wrong
        // negative variance. Beyond the bound, pre-scale the field.
        case "extended_stats" =>
          // the exact-moment model casts to long — on a fractional
          // field that would silently truncate every value before the
          // moments form (silently-wrong avg/variance, the failure
          // mode the fail-loud philosophy forbids). Integral fields
          // only, ENFORCED, not just documented.
          if (schema != null) Option(schema).flatMap(_.find(_.name == f))
            .map(_.dataType).foreach {
              case org.apache.spark.sql.types.DoubleType |
                   org.apache.spark.sql.types.FloatType |
                   _: org.apache.spark.sql.types.DecimalType =>
                fail(s"extended_stats on '$f' requires an integral field " +
                  "(the exact long moment model would silently truncate " +
                  "fractional values) - pre-scale to integers first")
              case _ => ()
            }
          val cl = c.cast("long")
          val overflow =
            count(cl).cast("double") * max(abs(cl)).cast("double") > lit(3.0e9)
          val err = "extended_stats moment overflow: rows x |values| " +
            "exceeds the exact Long model - pre-scale the field"
          def guardL(x: Column): Column =
            when(overflow, raise_error(lit(err)).cast("long")).otherwise(x)
          def guardD(x: Column): Column =
            when(overflow, raise_error(lit(err)).cast("double")).otherwise(x)
          val variance = (count(cl) * sum(cl * cl) - sum(cl) * sum(cl)).cast("double") /
            (count(cl) * count(cl)).cast("double")
          Seq(
            count(c).as(s"${name}_count"),
            min(c).as(s"${name}_min"),
            max(c).as(s"${name}_max"),
            (sum(cl).cast("double") / count(cl)).as(s"${name}_avg"),
            sum(cl).as(s"${name}_sum"),
            guardL(sum(cl * cl)).as(s"${name}_sum_of_squares"),
            guardD(variance).as(s"${name}_variance"),
            guardD(sqrt(variance)).as(s"${name}_std_deviation"))
        // DISCRETE percentiles (percentile_disc): an actual data value,
        // no interpolation — so the result is engine-exact, unlike the
        // t-digest approximation OpenSearch itself serves
        // boxplot: min / q1 / median / q3 / max — the five-number
        // summary from DISCRETE percentiles (actual data values, no
        // interpolation — engine-exact like `percentiles`)
        case "boxplot" =>
          if (cond.isDefined)
            fail(s"boxplot under a filtered bucket is unsupported ('$name')")
          Seq(
            min(c).as(s"${name}_min"),
            expr(s"percentile_disc(0.25) WITHIN GROUP (ORDER BY `$f`)").as(s"${name}_q1"),
            expr(s"percentile_disc(0.5) WITHIN GROUP (ORDER BY `$f`)").as(s"${name}_q2"),
            expr(s"percentile_disc(0.75) WITHIN GROUP (ORDER BY `$f`)").as(s"${name}_q3"),
            max(c).as(s"${name}_max"))
        case "percentiles" =>
          if (cond.isDefined)
            fail(s"percentiles under a filtered bucket is unsupported ('$name')")
          val percents = body.toMap.get("percents") match {
            case Some(JArray(ps)) if ps.nonEmpty => ps.map {
              case JInt(i) if i > 0 && i < 100 => i.toInt
              case other => fail(s"percents must be integers in (0,100): ${render(other)}")
            }
            case None        => Seq(25, 50, 75)
            case Some(other) => fail(s"percents must be an array: ${render(other)}")
          }
          percents.map(p => expr(
            s"percentile_disc(${p / 100.0}) WITHIN GROUP (ORDER BY `$f`)")
            .as(s"${name}_p$p"))
        case other => fail(s"unsupported metric agg '$other' under '$name'")
      }
    case other => fail(s"metric agg '$name' must be {metric: {field: ...}}: ${render(other)}")
  }

}
