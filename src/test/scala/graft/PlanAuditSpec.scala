package graft

import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

/** Plan-shape regression guard (SURVEY.md §5): the physical plans the
  * engine is designed around — parquet filter pushdown, column-pruned
  * scans, broadcast dim joins, top-k via TakeOrderedAndProject — must
  * survive refactors. A correctness-green change that reads all columns
  * or drops a broadcast is a 100 TB regression this spec catches at
  * sf0.001.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution
      .explainString(FormattedMode)

  test("dedup candidate plans have no Window and no join on a bucket key") {
    // Dedup.bucketPairs lists each bucket's pairs after one shuffle on
    // the bucket keys. A window cap under an equi-self-join on those
    // keys runs the window once per join side, and under 10 MB AQE
    // broadcasts the whole capped table.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    val bucketCols = Set("sh", "band", "bucket", "key", "chunk", "bk")
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_simhash_exact",
                  "q_dedup_hamming_exact", "q_dedup_minhash_exact", "q_dedup_phash",
                  "q_dedup_jaccard", "q_dedup_threshold_curve", "q_dedup_cosine",
                  "q_dedup_cosine_bucketed")) {
      val lp = SparkEntry.queries(q)(spark, Sf).queryExecution.optimizedPlan
      assert(lp.collect { case w: Window => w }.isEmpty, s"$q plans a window:\n$lp")
      val keyed = lp.collect { case j: Join => j.condition.toSeq.flatMap(_.references.map(_.name)) }
        .flatten.filter(bucketCols)
      assert(keyed.isEmpty, s"$q joins on bucket columns ${keyed.distinct}:\n$lp")
    }
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    // the column is DATE-normalized over a timestamp[us] physical type,
    // so the pushed predicate is the unwrap rule's raw-timestamp form
    // (LessThan at next midnight), not the user's date LessThanOrEqual
    val p = planOf("q1_agg")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate"), s"filter not pushed to scan: $pushed")
  }

  test("UnwrapDateCastComparison turns date-cast predicates into pushable timestamp ranges") {
    import org.apache.spark.sql.functions._
    val li = Tables.t(spark, Sf, "lineitem")
    // <= date d pushes as ts < midnight(d+1); >= pushes as ts >= midnight(d)
    val p = li.filter(col("l_shipdate") <= lit("1997-06-15") &&
        col("l_shipdate") >= lit("1996-01-01"))
      .select(col("l_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("LessThan(l_shipdate") && p.contains("GreaterThanOrEqual(l_shipdate"),
      s"date-cast filter did not reach PushedFilters: $p")
    // semantics unchanged by the rewrite: same rows as the unpushable
    // post-scan form
    val rewritten = li.filter(col("l_shipdate") <= lit("1997-06-15")).count()
    val reference = li.filter(
      expr("cast(cast(l_shipdate as string) as date) <= date'1997-06-15'")).count()
    assert(rewritten == reference, s"$rewritten != $reference")
  }

  test("scans are column-pruned to what the query needs") {
    val p = planOf("q1_agg")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"),
      s"q1_agg scan reads unneeded columns: $read")
    val p2 = planOf("q_select_data")
    val read2 = p2.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read2.contains("props") && !read2.contains("event_type"),
      s"q_select_data scan reads unneeded columns: $read2")
  }

  test("q_join_agg broadcasts the dimension tables") {
    val p = planOf("q_join_agg")
    assert(p.contains("BroadcastHashJoin"), "dim joins are not broadcast")
  }

  test("q_semi_join compiles to a semi join, not a join + distinct") {
    val p = planOf("q_semi_join")
    assert(p.contains("LeftSemi"), "EXISTS did not become a semi join")
  }

  test("q_topn uses TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_topn")
    assert(p.contains("TakeOrderedAndProject"), "top-k is a full sort")
    assert(!p.contains("Exchange rangepartitioning"), "top-k range-shuffles the input")
  }

  test("q_filter_project pushes every predicate to the scan") {
    val p = planOf("q_filter_project")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity").foreach { f =>
      assert(p.contains(f), s"predicate $f not pushed")
    }
  }

  /** Plan string with estimate-based broadcasts disabled, so any
    * BroadcastExchange left in the plan comes from an explicit
    * broadcast() hint — the thing the 100 TB audit must catch. */
  private def planNoAutoBroadcast(name: String): String = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try planOf(name) finally spark.conf.set(key, prev)
  }

  test("dedup candidate-pair attach joins carry no forced broadcast") {
    // the candidate table grows linearly with corpus size — a broadcast
    // hint anywhere in these plans OOMs the driver at 100 TB
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_jaccard",
                  "q_dedup_cosine", "q_dedup_cosine_bucketed", "q_dedup_phash")) {
      val p = planNoAutoBroadcast(q)
      assert(!p.contains("BroadcastExchange"),
        s"$q force-broadcasts a join side that scales with the corpus")
    }
  }

  test("q_token_bpe counts tokens inside the scan stage — zero exchanges") {
    // the merge chain is per-row work over a broadcast table; a shuffle
    // anywhere means token counting stopped being scan-local
    val p = planOf("q_token_bpe")
    assert(!p.contains("Exchange"), s"BPE counting shuffles:\n$p")
  }

  test("q_token_sp Viterbi counting stays scan-local — zero exchanges") {
    // segmentation is per-row work against a broadcast piece table (the
    // q_token_bpe contract for the unigram family); training is driver-
    // side, so the counting plan itself must not shuffle
    val p = planOf("q_token_sp")
    assert(!p.contains("Exchange"), s"unigram counting shuffles:\n$p")
  }

  test("q_h_fold horizontal accumulators stay scan-local — zero exchanges") {
    val p = planOf("q_h_fold")
    assert(!p.contains("Exchange"), s"horizontal fold shuffles:\n$p")
  }

  test("q_time_bucket_offset pays exactly one aggregation shuffle") {
    // the bucket is scan-side integer arithmetic; the only exchange is
    // the groupBy's own (AQE wraps it, so count Exchange occurrences)
    val p = planOf("q_time_bucket_offset")
    // FormattedMode lists each node once as a "(n) Exchange" detail header
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("q_ann_pq: corpus codes stream through broadcast joins only") {
    // ADC scoring and the rerank attach broadcast the (small) query
    // side; a shuffle of the encoded corpus would mean the broadcast
    // contract broke. SortMergeJoin anywhere = corpus-side shuffle.
    val p = planOf("q_ann_pq")
    assert(!p.contains("SortMergeJoin"), s"PQ corpus side shuffles into a join:\n$p")
  }

  test("q_repetition_2gram and q_dt_round stay scan-local — zero exchanges") {
    // the native repetition kernel and integer dt.round are projections;
    // any exchange means token text started shuffling (the thing the
    // kernel exists to prevent)
    for (q <- Seq("q_repetition_2gram", "q_dt_round")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("q_replace_many, q_shard, q_line_signals stay scan-local — zero exchanges") {
    // the trie replacer, md5 shard id, and line-ratio HOFs are pure
    // projections; an exchange would mean document text started
    // shuffling for what is per-row work
    for (q <- Seq("q_replace_many", "q_shard", "q_line_signals")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("q_lm_score shuffles keyed rows, never raw text or occurrences") {
    // flat occurrence stream + token-key vocab join: every pre-shuffle
    // aggregate must be partial (map-side combine), and the scanned
    // text column must not survive into any exchange
    for (q <- Seq("q_lm_score", "q_lm_bigram")) {
      val p = planOf(q)
      assert(p.contains("HashAggregate"), s"$q expected hash aggregation:\n$p")
      val exchanges = p.split("\n").filter(_.contains("Exchange"))
      assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text#")),
        s"$q: raw text must not shuffle:\n$p")
    }
  }

  test("q_url_parse is scan-local; q_business_days never forces a fact broadcast") {
    assert(!planOf("q_url_parse").contains("Exchange"),
      "URL extraction is per-row work — it must not shuffle")
    // lineitem×orders is fact-fact: with estimate broadcasts disabled
    // the join must fall back to a shuffle join, proving no broadcast()
    // hint pins the corpus-sized side to the driver
    val p = planNoAutoBroadcast("q_business_days")
    assert(!p.contains("BroadcastExchange"),
      s"q_business_days force-broadcasts a fact table:\n$p")
  }

  test("sign-LSH bucket shuffles carry long buckets, not 0/1 strings") {
    // signBanded packs each band's sign bits into a long: the bucket
    // exchange schema must show bucket as bigint (8 bytes/row), never a
    // string pattern column
    // attributes print as bucket#NL (long) vs bucket#N (string)
    val p = planOf("q_dedup_cosine")
    val refs = """bucket#\d+(L?)""".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(refs.nonEmpty, "no bucket column in the plan")
    assert(refs.forall(_ == "L"), "bucket column is still a string")
  }

  test("q_dedup_incremental never force-broadcasts the index anti-join") {
    // the index grows with the CORPUS (one row per distinct hash) — a
    // broadcast hint on it OOMs the driver at 100 TB; AQE may still
    // choose broadcast at runtime when the index is genuinely small
    val p = planNoAutoBroadcast("q_dedup_incremental")
    assert(!p.contains("BroadcastExchange"),
      "incremental dedup force-broadcasts a corpus-scaled side")
    assert(p.contains("LeftAnti"), "index membership is not an anti-join")
  }

  test("q_quantile_nearest shares q_quantile's single range shuffle") {
    // every strategy reads the one rank-core RDD: one range shuffle per
    // call, however many strategies it mixes
    assertOneRankCore(SparkEntry.queries("q_quantile_nearest")(spark, Sf), "q_quantile_nearest")
  }

  test("q_ann_lsh broadcasts only the declared small query side") {
    val p = planNoAutoBroadcast("q_ann_lsh")
    // formatted mode prints each operator once in the tree and once as a
    // numbered detail section — count the detail headers
    val n = """\(\d+\) BroadcastExchange""".r.findAllIn(p).size
    assert(n == 1, s"expected exactly the query-side broadcast hint, saw $n")
  }

  test("q_row_index: no rows lost across many partitions under AQE") {
    // withRowIndex deliberately drops to RDD zipWithIndex: the two
    // DataFrame-action formulation lost rows at the sf1 stress when
    // AQE coalesced its two jobs' shuffle reads differently and the
    // pid-keyed inner join dropped unmatched partitions. The invariant
    // that matters is row preservation + contiguity on a multi-way
    // partitioned, sorted input — exactly the layout the bug hit.
    val df = SparkEntry.queries("q_row_index")(spark, Sf)
    val n = Tables.t(spark, Sf, "orders").count()
    val idx = df.select(col("row_idx")).collect().map(_.getLong(0)).sorted
    assert(idx.length == n, s"row index lost rows: ${idx.length} of $n")
    assert(idx.toSeq == (0L until n).toSeq, "indices not contiguous from 0")
  }

  test("q_vocab top-k is TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_vocab")
    assert(p.contains("TakeOrderedAndProject"), "vocab top-k is a full sort")
  }

  test("q_sessionize windows and session aggregation share one user-key shuffle") {
    // the (user, session_seq) groupBy is satisfied by the window's
    // user-hash partitioning (subset-key clustering), so the whole
    // query is scan → one exchange → sort → windows → agg
    val p = planOf("q_sessionize")
    val n = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(n == 1, s"expected a single user-key exchange, saw $n")
  }

  test("no cartesian/nested-loop joins outside the declared brute-force path") {
    // q_ann_bruteforce / q_ann_quantized / q_search_sorted are the
    // declared small-side × corpus scans; every other pipeline query
    // must pair via key-equality joins or it goes quadratic at scale
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_jaccard",
                  "q_dedup_cosine", "q_dedup_cosine_bucketed", "q_ann_lsh",
                  "q_ann_ivf", "q_dedup_exact", "q_multimodal",
                  "q_range_join", "q_join_where", "q_qcut", "q_decontaminate", "q_vocab",
                  "q_tfidf", "q_upsample", "q_sessionize", "q_salted_join",
                  "q_repetition", "q_quality_filter", "q_lang_budget",
                  "q_embed_quant", "q_winsorize")) {
      val p = planNoAutoBroadcast(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q contains a non-equi pairing join")
    }
  }

  test("stratified hash sampling is a scan-side filter — no shuffle, no join") {
    val p = planNoAutoBroadcast("q_sample_stratified")
    assert(!p.contains("Exchange"),
      "the sampling predicate must evaluate row-local inside the scan")
  }

  test("q_lang_budget pays exactly one stratum-key shuffle") {
    val p = planOf("q_lang_budget")
    val n = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(n == 1, s"expected a single lang-key exchange, saw $n")
  }

  test("arg extremes and group first/last aggregate partially — no window pass") {
    // (value, key) struct min/max and min_by/max_by keep map-side
    // partial aggregation; a row_number formulation would instead sort
    // every row through a window task
    for (q <- Seq("q_arg_minmax", "q_first_last")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q fell back to a window pass")
      assert(p.contains("partial"), s"$q lost map-side partial aggregation")
    }
  }

  test("q_winsorize attaches the quantile breaks via broadcast") {
    val p = planOf("q_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      "per-group clip edges must broadcast back onto the fact table")
  }

  test("dedupLines exchanges carry unit hashes and positions — never unit text") {
    import graft.operators.Dedup
    val docs = Tables.t(spark, Sf, "documents").select(col("doc_id"), col("text"))
    val p = Dedup.dedupLines(docs, "doc_id", "text", sep = ". ", minUnitChars = 15)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val sections = p.split("""\n\n""")
    val exchanges = sections.filter(_.matches("""(?s)\(\d+\) Exchange\b.*"""))
    assert(exchanges.nonEmpty, "no Exchange detail sections found in plan")
    exchanges.foreach { sec =>
      val input = sec.linesIterator.filter(_.trim.startsWith("Input")).mkString
      assert(!input.contains("u#"),
        s"an exchange shuffles exploded unit text: $input")
    }
    // the only exchange allowed to carry the document text is the final
    // per-doc drop-list attach (one row per doc, rewrite in the scan)
    val textCarrying = exchanges.count(
      _.linesIterator.filter(_.trim.startsWith("Input")).mkString.contains("text#"))
    assert(textCarrying <= 1, s"$textCarrying exchanges carry the document text")
  }

  test("q_decontaminate_bloom: scan-side sketch probe, zero added exchanges") {
    import graft.operators.Dedup
    val docs = Tables.t(spark, Sf, "documents")
    val corpus = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), col("text"), col("lang"))
    val probes = docs.filter(col("doc_id") < 50)
    def exchanges(p: String) = """\(\d+\) Exchange""".r.findAllIn(p).size
    val bloomPlan = Dedup.decontaminateBloom(corpus, probes, "doc_id", "text",
        shingleN = 5, containmentThreshold = 0.2)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the sketch probe is a plain Filter expression — present in the
    // plan, adding NO join, broadcast, or shuffle: exchange count must
    // equal the exact path's
    assert(bloomPlan.toLowerCase.contains("bloomkernels.anycontained"),
      "Bloom prefilter optimized away or not planned as a Filter")
    assert(!bloomPlan.contains("BroadcastNestedLoopJoin"),
      "sketch probe must not plan as a join")
    val exactPlan = Dedup.decontaminate(corpus, probes, "doc_id", "text",
        shingleN = 5, containmentThreshold = 0.2)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(exchanges(bloomPlan) == exchanges(exactPlan),
      s"prefilter added exchanges: bloom=${exchanges(bloomPlan)} exact=${exchanges(exactPlan)}")
  }

  test("q_curate pipelines its stages through exactly two exchanges") {
    // quality gate is scan-local; exact dedup shuffles once on the
    // constant-width content hash; the budget shuffles once on the
    // language key — nothing else may exchange
    val p = planOf("q_curate")
    val n = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(n == 2, s"expected hash + lang exchanges only, saw $n")
  }

  test("q_curate exchanges never carry the document text") {
    // hash and token count must be projected scan-side so the dedup
    // shuffle moves ~50 bytes/row, not the corpus itself — the width of
    // the exchange, not just its existence, is the 100 TB contract
    val p = planOf("q_curate")
    // formatted mode prints one detail section per operator; the
    // Exchange sections' Input lines are the shuffled schema
    val sections = p.split("""\n\n""")
    val exchanges = sections.filter(_.matches("""(?s)\(\d+\) Exchange\b.*"""))
    assert(exchanges.nonEmpty, "no Exchange detail sections found in plan")
    exchanges.foreach { sec =>
      val input = sec.linesIterator.filter(_.trim.startsWith("Input")).mkString
      assert(!input.contains("text#"),
        s"an exchange shuffles the full document text: $input")
    }
  }

  test("duplicateSpans exchanges carry ids and offsets only — never text") {
    // positional shingles are computed scan-side; the dup-hash agg,
    // the flag-back join, and the run-assembly window shuffle (id,
    // pos, sh, cs, ce) — 8-byte hash + ints. Text entering any
    // exchange would re-shuffle the corpus at 100 TB.
    import graft.operators.Dedup
    val docs = Tables.t(spark, Sf, "documents").select(col("doc_id"), col("text"))
    val p = Dedup.duplicateSpans(docs, "doc_id", "text", shingleN = 5,
        minSpanTokens = 20).queryExecution.explainString(FormattedMode)
    val sections = p.split("""\n\n""")
    val exchanges = sections.filter(_.matches("""(?s)\(\d+\) Exchange\b.*"""))
    assert(exchanges.nonEmpty, "no Exchange detail sections found in plan")
    exchanges.foreach { sec =>
      val input = sec.linesIterator.filter(_.trim.startsWith("Input")).mkString
      assert(!input.contains("text#"),
        s"a span-dedup exchange shuffles the document text: $input")
    }
  }

  test("q_merge_sorted is one range-partitioned sort — no extra exchanges") {
    // the merge IS the distributed sort: union is exchange-free, then a
    // single range exchange orders globally; any second exchange means
    // the merge re-shuffled what the sort already placed
    val p = planOf("q_merge_sorted")
    val n = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(n == 1, s"expected the single range exchange of the merge sort, saw $n")
    assert(p.contains("rangepartitioning"), "merge did not range-partition")
  }

  test("q_search_sorted is one scan with no join at all") {
    val p = planNoAutoBroadcast("q_search_sorted")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "plan-time probes must compile to conditional aggregates, not a probe join")
    assert(p.contains("partial"), "search_sorted lost map-side partial aggregation")
  }

  test("null-safe equality still hash-joins (no nested-loop fallback)") {
    val p = planNoAutoBroadcast("q_null_safe_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "<=> must remain a key-equality join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "null-safe join fell back to a non-equi pairing")
  }

  test("bucketed tables co-locate their join — zero exchanges") {
    // the 100 TB lever for repeated fact-dim joins: both sides written
    // bucketed on the join key with matching bucket counts read back
    // pre-partitioned, so the sort-merge join runs with NO shuffle at
    // all — the plan is scan → sort → join on both sides
    val orders = Tables.t(spark, Sf, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val cust = Tables.t(spark, Sf, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
    spark.sql("DROP TABLE IF EXISTS g_orders_bucketed")
    spark.sql("DROP TABLE IF EXISTS g_customer_bucketed")
    try {
      orders.write.mode("overwrite").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable("g_orders_bucketed")
      cust.write.mode("overwrite").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable("g_customer_bucketed")
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        val j = spark.table("g_orders_bucketed")
          .join(spark.table("g_customer_bucketed"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_custkey")).agg(org.apache.spark.sql.functions.sum(col("o_totalprice")))
        val p = j.queryExecution.explainString(FormattedMode)
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"bucketed join did not stay a key join:\n$p")
        assert(!p.contains("Exchange"),
          "bucketed join (and the aggregation on its key) re-shuffled co-located data")
        assert(j.count() > 0)
      } finally spark.conf.set(key, prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS g_customer_bucketed")
    }
  }

  test("document pipeline scans stay column-pruned") {
    // a documents scan that drags `text` into a metadata-only query (or
    // lang/source into a text-only one) multiplies the scan bytes at
    // 100 TB — ReadSchema is the contract
    val hist = planOf("q_hist").linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!hist.contains("text"), s"q_hist reads the text payload: $hist")
    val chunk = planOf("q_chunk").linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!chunk.contains("lang") && !chunk.contains("source") && !chunk.contains("n_chars"),
      s"q_chunk reads unneeded metadata columns: $chunk")
  }

  test("q_value_props has no single-partition global window") {
    // the grand total comes from a broadcast 1-row aggregate, never
    // from sum().over(Window.partitionBy()) — an unpartitioned window
    // funnels every group through ONE task at a wide value domain
    // (the 1-row total agg's own SinglePartition exchange is fine —
    // it moves one partial-agg row per partition, not data rows)
    val p = planOf("q_value_props")
    assert(!p.linesIterator.exists(_.matches("""\(\d+\) Window\b.*""")),
      s"q_value_props still uses a window for the total:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "total should come back via a broadcast")
  }

  test("q_sample_weighted is one TakeOrdered, never a global sort of the corpus") {
    // Efraimidis–Spirakis = per-partition top-n heaps + driver merge;
    // a Sort + Limit pair instead would shuffle the whole corpus
    val p = planOf("q_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample lost its TakeOrdered shape:\n$p")
    assert(!p.linesIterator.exists(_.matches("""\(\d+\) Sort\b.*""")),
      "weighted sample pays a full sort")
  }

  test("q_sample_weighted_strat ranks through WindowGroupLimit, one stratum shuffle") {
    // the rank()<=n filter must push a group-limit below the exchange
    // (map-side n-row heap per stratum) — without it a skewed stratum
    // sorts its whole population in one task
    val p = planOf("q_sample_weighted_strat")
    assert(p.contains("WindowGroupLimit"),
      s"per-stratum top-n lost its WindowGroupLimit:\n$p")
    val ex = p.linesIterator.count(_.matches("""\(\d+\) Exchange\b.*"""))
    assert(ex <= 1, s"per-stratum sample pays $ex exchanges")
  }

  test("q_rank_global: no data-sized single-partition window") {
    // the rank comes from the two-pass core over per-value COUNTS: one
    // ExistingRDD scan, no live range exchange and no Window at all —
    // a global Window over the data would funnel it through one task
    val fin = assertOneRankCore(SparkEntry.queries("q_rank_global")(spark, Sf), "q_rank_global")
    assert(!fin.contains("Window"), s"q_rank_global plans a window:\n$fin")
  }

  test("q_lm_trigram: occurrences shuffle at most twice, text never does") {
    // flat-form contract: the doc-sized trigram stream pays one
    // exchange into the (u,v,w) join and one partial-agg'd exchange
    // into the per-doc average; marginal joins move model-sized tables
    val p = planNoAutoBroadcast("q_lm_trigram")
    val exLines = p.linesIterator.filter(_.contains("hashpartitioning")).toList
    assert(!exLines.exists(_.contains("text#")),
      s"q_lm_trigram shuffles raw document text: $exLines")
    // doc-sized exchanges are exactly those carrying the doc id
    val docSized = exLines.count(_.contains("id#"))
    assert(docSized <= 2, s"per-doc trigram stream pays $docSized exchanges: $exLines")
  }

  test("lm scorers never pre-aggregate per (doc, n-gram)") {
    // each scorer joins the raw n-gram occurrences to the corpus counts
    // and averages per doc. An exchange keyed on the doc id AND an
    // n-gram column is the per-doc pre-aggregate: it saves one corpus
    // scan but measured slower end to end (q_lm_trigram at sf0.1 on a
    // 4-core box: 4.6 s with it, 3.2 s without, 11x the shuffled rows)
    val ngramCols = Seq("token#", "p#", "w#", "u#", "v#")
    for (q <- Seq("q_lm_score", "q_lm_bigram", "q_lm_trigram")) {
      val keyed = "hashpartitioning\\(([^()]*)\\)".r
        .findAllMatchIn(planNoAutoBroadcast(q)).map(_.group(1).split(", ").toSeq)
        .filter(ks => ks.exists(_.startsWith("id#")) &&
          ks.exists(k => ngramCols.exists(k.startsWith)))
        .toList
      assert(keyed.isEmpty, s"$q shuffles per (doc, n-gram): $keyed")
    }
  }

  test("q_corr_matrix reads the input exactly once for all pairs") {
    // the one-scan contract: n·(n−1)/2 correlations from a single
    // Aggregate — a per-pair union would re-scan lineitem 3×
    val p = planOf("q_corr_matrix")
    // count detail headers "(n) Scan parquet" — FormattedMode prints
    // each node once in the tree and once in the detail section
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"corrMatrix re-scans the input: $scans scans\n$p")
  }

  test("q_explode_multi is one generator pass, not a cross product") {
    val p = planOf("q_explode_multi")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Generate\b.*""")) == 1,
      s"lockstep explode must be a single Generate: $p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "lockstep explode went cartesian")
  }

  test("q_dedup_scoped exchange carries scope + hash, never the text") {
    val p = planOf("q_dedup_scoped")
    val exchanges = p.linesIterator.zipWithIndex.filter(_._1.contains("Exchange")).toList
    assert(exchanges.nonEmpty)
    // the shuffle key block lists hashpartitioning columns inline
    val exLines = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    // BOTH must ride the key: a hash-only shuffle (scope silently
    // dropped) would dedup across scopes and still pass an ||-check.
    // Catalyst renders the md5(text) grouping key as an unaliased
    // _groupingexpression — accept either spelling for the hash half
    assert(exLines.contains("source"),
      s"scoped dedup shuffle dropped the scope column: $exLines")
    assert(exLines.contains("content_hash") || exLines.contains("_groupingexpression"),
      s"scoped dedup shuffle dropped the content hash: $exLines")
    assert(!exLines.contains("text#"), s"scoped dedup shuffles document text: $exLines")
  }

  test("ivf-pq: the cell-keyed ADC join broadcasts the probe side") {
    // corpus codes must stream; only the (qid, cell, lut) probe side is
    // broadcast — a shuffle of the encoded corpus keyed on qid would be
    // a scale regression
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val plan = graft.operators.Pq.ivfPqTopK(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, nLists = 4, nProbe = 2, m = 8, ksub = 4, trainSample = 256, iters = 2)
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("BroadcastHashJoin"), "probe side not broadcast")
    // the SPECIFIC join: a BroadcastHashJoin keyed on the IVF cell —
    // the tiny probes⋈luts broadcast join alone must not satisfy this
    // audit while the main ADC join regresses to a corpus shuffle
    assert(plan.linesIterator.exists(l => l.contains("keys") && l.contains("cell#")),
      s"no join keyed on the IVF cell id in:\n$plan")
    // and the encoded corpus never shuffles: no exchange key or
    // partition expression may carry the codes column
    val shuffled = plan.linesIterator
      .filter(l => l.contains("hashpartitioning") || l.contains("rangepartitioning"))
      .filter(_.contains("codes#")).toList
    assert(shuffled.isEmpty, s"corpus codes entered a shuffle: $shuffled")
  }

  /** Execute a DataFrame's own QueryExecution to completion and return
    * the FINAL adaptive plan (isFinalPlan=true) — runtime stage reuse
    * (AQE's form of ReuseExchange) is invisible in the static explain,
    * so reuse contracts can only be pinned on the executed plan. */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** The rank core's contract on a caller's final plan (see the avgRank
    * pin below): exactly one ExistingRDD scan, no live range exchange,
    * nothing left persisted. Returns the final plan. */
  private def assertOneRankCore(df: org.apache.spark.sql.DataFrame, what: String): String = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val fin = finalPlanOf(df)
    val existing = fin.linesIterator.count(_.contains("Scan ExistingRDD"))
    val ranged = fin.linesIterator.count(_.contains("rangepartitioning"))
    assert(existing == 1 && ranged == 0,
      s"$what: not one finalized rank RDD: existing=$existing ranged=$ranged\n$fin")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      s"$what left frames in the cache after materialization")
    fin
  }

  test("avgRank: rank side is ONE finalized RDD plan, nothing left persisted") {
    // the two-pass contract: the partition sums and the rank map run
    // over the SAME finalized RDD (queryExecution.toRdd — the
    // withRowIndex pattern), so the layout the offsets describe is the
    // layout the ranks see by construction. In the caller-visible plan
    // that shows up as one ExistingRDD scan on the rank side and NO
    // live range exchange (the range shuffle lives inside the
    // pre-finalized subplan); and nothing may be left in the cache.
    val df = Tables.t(spark, Sf, "lineitem")
      .select(col("l_extendedprice").as("price"))
    // diff against a pre-snapshot, not isEmpty: the session is shared
    // across suites, and another test's localCheckpoint RDDs stay in
    // the persisted set until GC clears them — only NEW pins are ours
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val fin = finalPlanOf(graft.operators.Ranks.avgRank(df, "price", "r"))
    val existing = fin.linesIterator.count(_.contains("Scan ExistingRDD"))
    val ranged = fin.linesIterator.count(_.contains("rangepartitioning"))
    assert(existing == 1 && ranged == 0,
      s"avgRank rank side not a single finalized RDD: existing=$existing ranged=$ranged\n$fin")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "avgRank left frames in the cache after materialization")
  }

  test("q_lm_trigram: corpus triples aggregate ONCE — marginals and total reuse the stage") {
    // two scans total (triple build + per-doc probe) and five reused
    // exchanges (c12/c23/c2m/cw marginals + the broadcast 1-row total
    // all read the one triple stage). The n-gram kernel's non-nullable
    // fields keep the branches canonically equal — a regression here
    // multiplies corpus scans by the branch count.
    val fin = finalPlanOf(SparkEntry.queries("q_lm_trigram")(spark, Sf))
    val scans = fin.linesIterator.count(_.contains("FileScan"))
    val reused = fin.linesIterator.count(_.contains("ReusedExchange"))
    assert(scans <= 2, s"q_lm_trigram scans the corpus $scans times:\n$fin")
    assert(reused >= 5, s"marginals/total rebuilt instead of reused ($reused):\n$fin")
  }

  test("lm family builds tokens and n-grams natively — no interpreted lambda in the plan") {
    // zip_with/filter lambdas run interpreted per array element and
    // keep the scan stage out of whole-stage codegen; the tokenizer and
    // the n-gram builder are native kernels (TextHashExpressions)
    for (q <- Seq("q_lm_score", "q_lm_bigram", "q_lm_trigram", "q_novelty", "q_pmi")) {
      val hofs = PlanDump.lambdas(SparkEntry.queries(q)(spark, Sf).queryExecution.optimizedPlan)
      assert(hofs.isEmpty, s"$q runs interpreted lambdas: ${hofs.map(_.prettyName).distinct}")
    }
  }

  test("text signals run natively — one counting expression, no interpreted lambda") {
    // the quality gate, the quality ratios and score, and language ID
    // are Column arithmetic over the TextSignals counts, not regexp
    // re-scans and interpreted stopword `filter` lambdas
    for (q <- Seq("q_lang_id", "q_quality_score", "q_text_quality", "q_budget_quality",
                  "q_quality_calibration", "q_quality_filter", "q_corpus_health",
                  "q_health_by_source")) {
      val plan = SparkEntry.queries(q)(spark, Sf).queryExecution.optimizedPlan
      val hofs = PlanDump.lambdas(plan)
      assert(hofs.isEmpty, s"$q runs interpreted lambdas: ${hofs.map(_.prettyName).distinct}")
      assert(plan.exists(_.expressions.exists(_.exists {
        case s: StaticInvoke => s.staticObject == graft.plans.TextSignals.getClass &&
          s.functionName == "of"
        case _ => false
      })), s"$q reads no TextSignals counts:\n$plan")
    }
  }

  test("IVF cells score natively — no interpreted lambda around the centroid cosines") {
    // one kernel call per row scores a vector against every centroid;
    // a transform lambda would run the cosine interpreted per
    // (row, centroid). q_ann_ivf_pq keeps only its ADC fold.
    for ((q, allowed) <- Seq("q_ann_ivf" -> Nil, "q_ann_ivf_exact" -> Nil,
        "q_ann_ivf_pq" -> Seq("aggregate", "zip_with"), "q_dedup_semantic" -> Nil,
        "q_mixture_cluster" -> Nil)) {
      val plan = SparkEntry.queries(q)(spark, Sf).queryExecution.optimizedPlan
      val hofs = PlanDump.lambdas(plan)
      assert(hofs.map(_.prettyName).sorted == allowed,
        s"$q runs interpreted lambdas: ${hofs.map(_.prettyName)}")
      assert(plan.exists(_.expressions.exists(_.exists {
        case s: StaticInvoke => s.functionName == "cosines"
        case _ => false
      })), s"$q scores its cells without the cosines kernel:\n$plan")
    }
  }

  test("BPE counts run natively — no interpreted lambda in the plan") {
    // every BPE count, Column, operator and SQL alike, is the native
    // TokenCount expression under a BPE model, not a transform/aggregate
    // replace chain; the unigram count (q_token_sp) is the same
    // expression under a piece table, not a mapPartitions row loop
    import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, MapPartitions}
    import graft.plans.TokenCount
    def counts(model: String)(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e match {
        case t: TokenCount => t.prettyName == model
        case _ => false
      }
    val plans = Seq("q_budget_bpe", "q_token_bpe").map(q =>
      (q, "graft_bpe_count", SparkEntry.queries(q)(spark, Sf).queryExecution.optimizedPlan)) :+
      (("graft_bpe_count", "graft_bpe_count", {
        Tables.t(spark, Sf, "documents").createOrReplaceTempView("bpe_docs")
        spark.sql("SELECT graft_bpe_count(text) AS n FROM bpe_docs").queryExecution.optimizedPlan
      })) :+
      (("q_token_sp", "graft_unigram_count",
        SparkEntry.queries("q_token_sp")(spark, Sf).queryExecution.optimizedPlan))
    for ((q, model, plan) <- plans) {
      val hofs = PlanDump.lambdas(plan)
      assert(hofs.isEmpty, s"$q runs interpreted lambdas: ${hofs.map(_.prettyName).distinct}")
      assert(plan.exists(_.expressions.exists(_.exists(counts(model)))),
        s"$q counts without the native TokenCount ($model):\n$plan")
      assert(!plan.exists(p => p.isInstanceOf[MapPartitions] || p.isInstanceOf[DeserializeToObject]),
        s"$q counts in a row loop:\n$plan")
    }
  }

  test("q_lm_score / q_lm_bigram: model side reuses the probe's n-gram exchange") {
    // two scans (n-gram counts + per-doc probe); the counts exchange is
    // built once and reused by the other model branch (T, or c1)
    for (q <- Seq("q_lm_score", "q_lm_bigram")) {
      val fin = finalPlanOf(SparkEntry.queries(q)(spark, Sf))
      val scans = fin.linesIterator.count(_.contains("FileScan"))
      assert(scans <= 2, s"$q scans the corpus $scans times:\n$fin")
      assert(fin.contains("ReusedExchange"),
        s"$q model branch rebuilt instead of reused:\n$fin")
    }
  }

  test("q_url_blocklist: both anti-joins broadcast the blocklist, corpus never shuffles") {
    val fin = finalPlanOf(SparkEntry.queries("q_url_blocklist")(spark, Sf))
    val anti = fin.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(anti == 2, s"expected 2 broadcast anti-joins, plan:\n$fin")
    // the only admissible shuffle is the blocklist's own distinct()
    // (config-sized, keyed on domain) — any exchange touching the
    // corpus side (url/doc_id) is the scale regression this pins
    val badEx = fin.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("url#") || l.contains("doc_id#"))).mkString
    assert(!fin.contains("SortMergeJoin") && badEx.isEmpty,
      s"blocklist filter shuffled the corpus: $badEx\n$fin")
  }

  test("q_snapshot_diff: the full-outer join's exchanges carry (id, hash), never text") {
    val p = planOf("q_snapshot_diff")
    val exLines = p.linesIterator.filter(_.contains("hashpartitioning")).mkString
    assert(exLines.contains("id#"), s"snapshot join not keyed on id: $exLines")
    assert(!exLines.contains("text#"), s"snapshot diff shuffles document text: $exLines")
    // hashes are projected scan-side: the join input columns are the
    // hash aliases, so text must not survive past the scan nodes
    val joinLines = p.linesIterator.filter(_.contains("SortMergeJoin")).mkString
    assert(!joinLines.contains("text#"), s"join carries raw text: $joinLines")
  }

  test("drift family: the totals branch reuses the count exchanges, never a corpus rescan") {
    // driftSpine folds totals in as a broadcast 1-row aggregate over
    // the same joined count table the terms read — if exchange reuse
    // breaks, every corpus (old + new) scans twice and the monitor
    // pays double at 100 TB
    for (q <- Seq("q_token_drift", "q_drift_summary", "q_drift_by_lang")) {
      val fin = finalPlanOf(SparkEntry.queries(q)(spark, Sf))
      val scans = fin.linesIterator.count(_.contains("FileScan"))
      assert(scans <= 2, s"$q scans the corpus $scans times:\n$fin")
      assert(fin.contains("ReusedExchange"),
        s"$q totals branch rebuilt instead of reused:\n$fin")
    }
  }

  test("q_corpus_health: every signal aggregates in ONE scan, partial map-side") {
    val fin = finalPlanOf(SparkEntry.queries("q_corpus_health")(spark, Sf))
    val scans = fin.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"health report rescans the corpus ($scans scans):\n$fin")
    // the only exchange is the 1-row final-aggregate funnel; partial
    // aggregation must run map-side so the funnel carries one row per
    // task, not the corpus
    assert(fin.contains("HashAggregate") || fin.contains("SortAggregate"),
      s"no partial aggregation:\n$fin")
    assert(!fin.contains("Exchange hashpartitioning"),
      s"health report shuffled the corpus:\n$fin")
  }

  test("q_padding_stats: scan-local bucket assignment, one partial-agg'd exchange") {
    val p = planOf("q_padding_stats")
    val exchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(exchanges == 1, s"padding stats should shuffle once (got $exchanges):\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"bucket counts not partially aggregated map-side:\n$p")
  }

  test("q_contamination_score: shuffles carry (id, shingle hash), never document text") {
    // the corpus explodes to 64-bit hashes scan-side; any exchange
    // with text on it re-keys the whole corpus by content at 100 TB
    val p = planOf("q_contamination_score")
    val exLines = p.linesIterator.filter(_.contains("hashpartitioning(")).mkString
    assert(exLines.nonEmpty && !exLines.contains("text#"),
      s"contamination score shuffles raw text: $exLines")
  }

  test("q_vocab_coverage: the cumsum window runs over count CLASSES, not the vocabulary") {
    // the single-partition window is bounded by the number of distinct
    // frequencies; a window keyed on the token column means the whole
    // vocab funnels through one task
    val p = planOf("q_vocab_coverage")
    val winLines = p.linesIterator.filter(_.contains("Window")).mkString
    assert(winLines.nonEmpty, s"no window found:\n$p")
    assert(!winLines.contains("token#"),
      s"coverage windows over the vocabulary itself: $winLines")
    // token counts still partial-aggregate map-side before their shuffle
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"token counts not partially aggregated:\n$p")
  }

  test("q_zipf_slope: the top-k cut is TakeOrdered, never a global sort of the vocab") {
    val p = planOf("q_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"zipf top-k is not a TakeOrdered cut:\n$p")
  }

  test("q_sample_bootstrap: pure scan-side filter + generate — zero exchanges") {
    val p = planOf("q_sample_bootstrap")
    assert(!p.contains("Exchange"),
      s"bootstrap resample shuffled (it must be scan-local):\n$p")
    assert(p.contains("Generate"), s"no explode generator in plan:\n$p")
  }

  test("q_rolling_range: the range frame windows over the pre-aggregated key table") {
    // the window's partition input must be the (group, key) aggregate,
    // not the raw facts — on raw rows Spark re-aggregates the whole
    // heavy-tie frame per row (quadratic at 100 TB)
    val p = planOf("q_rolling_range")
    val winLines = p.linesIterator.filter(_.contains("Window")).mkString
    assert(!winLines.contains("l_extendedprice#"),
      s"range frame runs over raw fact rows: $winLines")
    assert(p.contains("BroadcastHashJoin"),
      s"frame stats not broadcast back onto the facts:\n$p")
  }

  test("q_dsir_weights: exchanges carry ids and bucket partials only — never text") {
    // tokens hash to bucket ids scan-side and the log-ratio table
    // broadcasts; text entering any exchange would re-shuffle the
    // corpus at 100 TB
    val p = planOf("q_dsir_weights")
    val sections = p.split("""\n\n""")
    val exchanges = sections.filter(_.matches("""(?s)\(\d+\) Exchange\b.*"""))
    assert(exchanges.nonEmpty, "no Exchange detail sections found in plan")
    exchanges.foreach { sec =>
      val input = sec.linesIterator.filter(_.trim.startsWith("Input")).mkString
      assert(!input.contains("text#"),
        s"an exchange shuffles the full document text: $input")
    }
    assert(p.contains("BroadcastExchange"),
      s"the bucket log-ratio table must broadcast:\n$p")
  }

  test("q_dsir_by_domain: exchanges carry ids and bucket partials only; the grid broadcasts") {
    // same contract as the binary DSIR pin, with the domain dimension:
    // the ×D fan-out multiplies the per-doc (id, bucket) table via a
    // BROADCAST of the domain×bucket grid — text in any exchange or a
    // shuffle-join against the grid would re-shuffle the corpus at
    // 100 TB
    val p = planOf("q_dsir_by_domain")
    val sections = p.split("""\n\n""")
    val exchanges = sections.filter(_.matches("""(?s)\(\d+\) Exchange\b.*"""))
    assert(exchanges.nonEmpty, "no Exchange detail sections found in plan")
    exchanges.foreach { sec =>
      val input = sec.linesIterator.filter(_.trim.startsWith("Input")).mkString
      assert(!input.contains("text#"),
        s"an exchange shuffles the full document text: $input")
    }
    assert(p.contains("BroadcastExchange"),
      s"the domain×bucket grid must broadcast:\n$p")
  }

  test("q_dsir_frozen_domain: scoring is scan-local — zero exchanges, one generate") {
    // the frozen by-domain scorer's whole point: after the bounded fit
    // collect (which runs at construction, outside this plan), scoring
    // every doc against every domain is a projection + explode over
    // the scan — no join, no shuffle, nothing that wouldn't stream
    val p = planOf("q_dsir_frozen_domain")
    assert(!p.contains("Exchange"),
      s"frozen by-domain scoring shuffled (it must be scan-local):\n$p")
    assert(p.contains("Generate"), s"no explode generator in plan:\n$p")
  }

  test("partitionByGroups members push the group predicate into the parquet scan") {
    // the fan-out use case (writeByGroups): each member must read only
    // its slice — the equality predicate reaching PushedFilters is
    // what makes G sinks over a key-laid-out source G partition-pruned
    // scans instead of G full passes
    import graft.core.GDataset
    val docs = Tables.t(spark, Sf, "documents")
    val ds = GDataset(docs, "doc_id")
    val parts = ds.partitionByGroups(Seq("lang"))
    val someKey = parts.keys.find(_.head != null).get
    val p = parts(someKey).df.queryExecution.explainString(FormattedMode)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(lang"),
      s"group predicate did not reach the scan: $pushed")
  }

  test("empty-partition windows appear only in the whitelisted bounded-frame queries") {
    // An un-partitioned window funnels its whole input through ONE task
    // — a 100 TB killer when the input is corpus-sized. The queries
    // below window over frames that are bounded by CONSTRUCTION
    // (zipfSlope ranks a TakeOrdered-k frame; coverage cums the
    // count-class table, ≤ distinct-frequency rows). Because this audit
    // walks EVERY query's optimized plan, the driver mains are allowed
    // to silence WindowExec's per-execution warning flood — a new
    // accidental global window fails HERE instead of scrolling past in
    // stderr. NOTE: constructing a few queries runs REAL fit jobs
    // (q_dsir_frozen, q_quality_model, ... collect a bounded training
    // table at DataFrame-construction time), so this walk executes
    // small Spark jobs, not just analysis — expected, and bounded by
    // each fit's documented collect cap.
    val whitelist = Set("q_zipf_slope", "q_vocab_coverage")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val lp = SparkEntry.queries(name)(spark, Sf).queryExecution.optimizedPlan
      lp.collectWithSubqueries {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }.nonEmpty
    }
    assert(offenders.toSet.subsetOf(whitelist),
      s"unaudited empty-partition window(s) in: ${offenders.filterNot(whitelist).mkString(", ")} — " +
        "either partition the window or prove the frame is bounded and whitelist it")
  }
}
