package graft

import graft.queries.Relational
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the judged scale properties are plan
  * properties, so assert them directly — a refactor that silently turns
  * a pushed filter into a post-scan filter, a broadcast star join into a
  * sort-merge cascade, or a top-k into a global sort should fail here,
  * not in a bench regression three rounds later. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, TestSpark.Sf).queryExecution.executedPlan.toString

  test("q02: filters are pushed into the parquet scan") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan") || p.contains("IsNotNull"), p)
  }

  test("q05: star joins broadcast the dimension sides") {
    val p = plan("q05_star")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"star join degraded to SMJ:\n$p")
  }

  test("q19: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("q19_globaltopk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("scan prunes to the referenced columns only") {
    val p = plan("q01_scan")
    // ReadSchema must not include unreferenced wide columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("o_comment"), s"unpruned scan:\n$p")
  }

  test("qd1: no cartesian product anywhere in the banded plan") {
    val p = plan("qd1_minhash")
    assert(!p.contains("CartesianProduct"), s"cartesian in banded plan:\n$p")
  }

  test("g02: grid join is an equi-join, never a nested-loop") {
    val p = plan("g02_nearest")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"non-equi grid join:\n$p")
    // the fixture's segment side is under the broadcast threshold, so
    // the match is the broadcast-index operator
    assert(p.contains("NearestStreet"), s"g02 did not plan NearestStreetExec:\n$p")
  }

  test("q28/qd4 verify loops stay inside whole-stage codegen") {
    // the popcount intersection (q28) and the native dot kernel (qd4)
    // must sit inside a fused span — '*(n)' marks WholeStageCodegen.
    // AQE only materializes the final plan (with codegen markers) after
    // execution, so run the query first.
    def executedPlan(q: String): String = {
      val df = SparkEntry.queries(q)(spark, TestSpark.Sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(executedPlan("q28_neardup").contains("*("), "no codegen span in q28")
    val p4 = executedPlan("qd4_embdup")
    assert(p4.contains("dot_long") && p4.contains("*("), "qd4 kernel not fused")
  }

  test("q28: prefix-filter plan has no cartesian product") {
    // (the single-row wmax broadcast in masks() is a benign 1-row BNLJ;
    // the guard is against the old all-pairs doc × doc cartesian)
    val p = plan("q28_neardup")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in q28 prefix-filter plan:\n$p")
  }

  test("qd3: banded shingle plan has no cartesian product") {
    val p = plan("qd3_ngram")
    assert(!p.contains("CartesianProduct"), s"cartesian in qd3 banded plan:\n$p")
  }

  test("qe1: int8 quantization is one scan — no joins, no explode") {
    val p = plan("qe1_int8quant")
    assert(!p.contains("Join"), s"qe1 regressed to a join plan:\n$p")
    assert(!p.contains("Generate"), s"qe1 regressed to an explode plan:\n$p")
  }

  test("qd5/qt9: new round-3 operators keep cartesian-free plans") {
    // (qd4's 2-row band range and qt9's 1-row N are benign broadcast
    // BNLJs; the guard is against doc×doc / term×term cartesians)
    assert(!plan("qd5_dupgroups").contains("CartesianProduct"))
    assert(!plan("qt9_tfidf").contains("CartesianProduct"))
  }

  test("qt10: chunking is one scan — no joins") {
    val p = plan("qt10_chunk")
    assert(!p.contains("Join"), s"qt10 regressed to a join plan:\n$p")
  }

  test("qs1: probe is a bucket equi-join, never an all-vector scan") {
    // the (band, key) index relation must be probed via a broadcast hash
    // EQUI-join on the band keys; the only nested-loop allowed is the
    // benign 1-row query-embedding broadcast feeding the re-rank
    val p = plan("qs1_ann")
    assert(!p.contains("CartesianProduct"), s"cartesian in qs1 probe:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"qs1 probe regressed to an all-vector scan ($bnlj BNLJs):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no bucket equi-join in qs1:\n$p")
  }

  test("qs3: probe batch stays equi-joined — no nested-loop anywhere") {
    // the batch form replaces even the 1-row re-rank BNLJ with an
    // equi-join on the probe id, so NO nested-loop join is acceptable
    val p = plan("qs3_annbatch")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"qs3 probe batch degraded to a nested-loop plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no bucket equi-join in qs3:\n$p")
  }

  test("qt11/qx2: per-doc signals are single-scan, join-free plans") {
    // repetition stats and split assignment are row-local by design —
    // a join or generate appearing here means the row-local array-HOF
    // form regressed to an explode + re-aggregate shape
    val rep = plan("qt11_repetition")
    assert(!rep.contains("Join"), s"qt11 regressed to a join plan:\n$rep")
    assert(!rep.contains("Generate"), s"qt11 regressed to an explode plan:\n$rep")
    val sp = plan("qx2_split")
    assert(!sp.contains("Join"), s"qx2 regressed to a join plan:\n$sp")
    assert(!sp.contains("Generate"), s"qx2 regressed to an explode plan:\n$sp")
  }

  test("qx1: decontamination probes the corpus via a broadcast equi-join") {
    // the eval shingle set is the broadcast side; the corpus side must
    // never shuffle into a sort-merge join or degrade to a nested loop
    val p = plan("qx1_decontam")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast probe join in qx1:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"qx1 shuffles the corpus for the eval join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"qx1 degraded to a nested-loop plan:\n$p")
  }

  test("qd6: semantic dedup stays cell-bounded — equi-joins only") {
    // the within-cell pair join must be a hash equi-join on the cell id
    // (candidates bounded by the cell); the only nested loop allowed is
    // the benign broadcast of the tiny centroid relation for assignment
    val p = plan("qd6_semdedup")
    assert(!p.contains("CartesianProduct"), s"cartesian in qd6:\n$p")
    // the one benign BNLJ is the tiny-centroid broadcast inside the
    // CACHED assignment relation — the cached AQE plan prints BOTH its
    // Final and Initial subtrees per InMemoryTableScan, so the same
    // physical join can appear 2× per cache scan in the string
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val cacheScans = "InMemoryTableScan".r.findAllIn(p).size
    assert(bnlj <= 2 * math.max(cacheScans, 1),
      s"qd6 has $bnlj nested-loop joins beyond the cached centroid broadcast:\n$p")
    // the within-cell pair join and the verdict join are equi-joins
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), s"no equi-join in qd6:\n$p")
  }

  test("qs4: k-means iterations are broadcast passes — no cartesian, no corpus-keyed SMJ chain") {
    // each of the 3 assignment passes is a broadcast of the tiny
    // centroid relation (BNLJ is that broadcast); the updates are
    // partial-aggregated groupBys. A CartesianProduct or a SMJ on
    // vec_id would mean the corpus started shuffling per iteration.
    val p = plan("qs4_kmeans")
    assert(!p.contains("CartesianProduct"), s"cartesian in qs4:\n$p")
    assert(!p.contains("SortMergeJoin [vec_id"),
      s"qs4 shuffles the corpus on vec_id:\n$p")
  }

  test("qs6: IVF-PQ stays broadcast — no cartesian, no corpus-keyed SMJ, top-k via TakeOrdered") {
    // centroids, probe cells, query codes and query embedding are the
    // only broadcast relations; the corpus must never shuffle into a
    // vec_id sort-merge join, and both top-k stages must plan as
    // TakeOrderedAndProject (rounded-score total orders), not global
    // sorts
    val p = plan("qs6_ivfpq")
    assert(!p.contains("CartesianProduct"), s"cartesian in qs6:\n$p")
    assert(!p.contains("SortMergeJoin [vec_id"),
      s"qs6 shuffles the corpus on vec_id:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"qs6 top-k regressed to a global sort:\n$p")
  }

  test("qs8: PQ encode/ADC is broadcast-only — codebook and LUT never shuffle the corpus") {
    // the codebook join (encode), the LUT join (ADC) and the query
    // re-rank row are the only small sides; the corpus must join them
    // broadcast, never via a corpus-keyed sort-merge, and both top-k
    // stages plan as TakeOrderedAndProject
    val p = plan("qs8_pq")
    assert(!p.contains("CartesianProduct"), s"cartesian in qs8:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"qs8 shuffles the corpus into a sort-merge join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"qs8 top-k regressed to a global sort:\n$p")
  }

  test("qd11: cross-corpus band join is pair-unique — no cartesian, no distinct exchange") {
    val p = plan("qd11_crossdup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi cross-corpus join:\n$p")
    // first-matching-band emission makes pairs unique by construction:
    // no post-join distinct aggregate may appear (an aggregate keyed on
    // the pair would mean the construction regressed)
    assert(!p.toLowerCase.contains("hashaggregate(keys=[a#"),
      s"pair-distinct exchange reappeared:\n$p")
  }

  test("qt12/qc3: composed text pipelines stay cartesian-free") {
    assert(!plan("qt12_lmscore").contains("CartesianProduct"))
    val p = plan("qc3_decontclean")
    assert(!p.contains("CartesianProduct"), s"cartesian in qc3:\n$p")
  }

  test("q32: exact quantiles aggregate before the window (no full-table sort)") {
    // the value-histogram form: the window's child must be an aggregate
    // over (flag, value), never a 600k-row sort keyed by 3 return flags
    val p = plan("q32_quantile")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p)
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      s"no aggregate below the quantile window:\n$p")
  }

  test("s05: interval join is an equi-join on the user key, not nested-loop") {
    val p = plan("s05_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degraded to nested-loop:\n$p")
  }

  test("qc1: composed pipeline has no cartesian product") {
    val p = plan("qc1_clean")
    assert(!p.contains("CartesianProduct"), s"cartesian in pipeline:\n$p")
  }

  test("q39: LATERAL subquery is decorrelated — one equi-join, no per-row re-execution") {
    val p = plan("q39_lateral")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lateral subquery not decorrelated:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("qd8: per-hash doc count is an equi-join, never a window sort or nested-loop") {
    // the aggregate + equi-join form is AQE-skew-splittable where a
    // window over h is not (a universal boilerplate 8-gram would pin
    // one partition); guard both the no-window and no-nested-loop sides
    val p = plan("qd8_substring")
    assert(!p.contains("Window"), s"qd8 regressed to a window over h:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop in qd8:\n$p")
  }

  test("qd9/qc4: composed audit pipelines stay cartesian-free") {
    for (q <- Seq("qd9_bandrecall", "qc4_cleanpack")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
    }
  }

  test("qx4: token mixture is one scan + bounded windows — no SMJ, no cartesian") {
    val p = plan("qx4_tokenmix")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"token mixture degraded:\n$p")
  }

  test("q41: correlated subqueries decorrelate to equi-joins, no per-row re-execution") {
    val p = plan("q41_subq")
    // scalar-agg subquery → aggregate + equi-join; NOT EXISTS → anti join
    assert(p.contains("LeftAnti"), s"NOT EXISTS not an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"correlated subquery re-executed per row:\n$p")
  }

  test("qx5: bloom gate is broadcast-only — corpus side never shuffles pre-agg") {
    val p = plan("qx5_bloomgate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bloom word lookup degraded:\n$p")
  }

  test("q42/q43/q44: binned range joins are equi-joins on the bin — never BNLJ or cartesian") {
    for (q <- Seq("q42_rangejoin", "q43_overlap", "q44_rangerule")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q range join degraded to a nested loop:\n$p")
      assert(p.contains("Join"), s"$q lost its join entirely:\n$p")
    }
  }

  test("q50: recursion plans as native UnionLoop with a pushed edge-scan filter") {
    val p = plan("q50_recursive")
    // the iterative operator itself (a silent unroll or a fallback to a
    // cartesian fixpoint would lose it) — the snapshot harness doesn't
    // track UnionLoop, so pin it here
    assert(p.contains("UnionLoop"), s"recursion lost its UnionLoop operator:\n$p")
    // the recursion step is an equi-join of the frontier ref against the
    // filtered edge relation (each iteration plans its own scan, so the
    // body prints as a logical subtree — pushdown happens per iteration)
    assert(p.contains("UnionLoopRef"), s"recursion body lost its frontier ref:\n$p")
    assert(p.contains("Join Inner, (parent"), s"frontier step is not an equi-join:\n$p")
    assert(p.contains("c_custkey") && p.contains(">= 1"), s"edge filter missing:\n$p")
  }

  test("qs10: metadata pre-filter is a broadcast semi-join — no SMJ, no cartesian") {
    val p = plan("qs10_filteredann")
    assert(!p.contains("SortMergeJoin"), s"filtered-ANN degraded to SMJ:\n$p")
    assert(p.contains("LeftSemi"), s"metadata filter lost its semi-join:\n$p")
    graft.operators.OpCaches.releaseAll()
  }

  test("round-8 additions: broadcast where claimed, no cartesians, no SMJ") {
    // qt19: vocab-sized count relations broadcast onto the bigram table
    val pColloc = plan("qt19_colloc")
    assert(pColloc.contains("BroadcastHashJoin"), pColloc)
    assert(!pColloc.contains("SortMergeJoin"),
      s"qt19 vocab join degraded to SMJ:\n$pColloc")
    // q90: the |groups|-row percentile bounds broadcast back onto the scan
    val pWin = plan("q90_winsorize")
    assert(pWin.contains("BroadcastHashJoin"), pWin)
    assert(!pWin.contains("SortMergeJoin"), s"q90 bounds join SMJ:\n$pWin")
    // qs13: probe + audit scalars broadcast; the only joins are
    // broadcast nested-loop (single-row build sides) — never a shuffle join
    val pRad = plan("qs13_radius")
    assert(!pRad.contains("SortMergeJoin") && !pRad.contains("ShuffledHashJoin"),
      s"qs13 grew a shuffle join:\n$pRad")
    // qd13: the blocked self-join is an equi-join, not a cartesian
    val pJw = plan("qd13_jarowink")
    assert(!pJw.contains("CartesianProduct") &&
      !pJw.contains("BroadcastNestedLoopJoin"),
      s"qd13 block join degraded to a non-equi join:\n$pJw")
  }

  test("round-8 continuation: session scale claims are plan properties") {
    // q102/q104: the basket pair generation is an ORDER-keyed equi
    // self-join — never a cartesian (the only nested-loop is the
    // documented one-row-scalar crossJoin(broadcast) plumbing; q104's
    // edge-closing joins are CORRECTLY shuffle joins — the edge
    // relation is catalog-sized, not broadcastable at scale)
    for (q <- Seq("q102_basket", "q104_triangles")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
    }
    // q102's frequent-item prune specifically: the freq relation
    // broadcasts (BHJ present, no SMJ anywhere in q102)
    val pBask = plan("q102_basket")
    assert(pBask.contains("BroadcastHashJoin"), pBask)
    assert(!pBask.contains("SortMergeJoin"), s"q102 degraded to SMJ:\n$pBask")
    // qd15: prefix and index sides meet in an equi-join on the shingle
    // fingerprint — the containment join must never degrade to a
    // non-equi form
    val pCont = plan("qd15_containment")
    assert(!pCont.contains("CartesianProduct") &&
      !pCont.contains("BroadcastNestedLoopJoin"),
      s"qd15 candidate join degraded:\n$pCont")
    // qx10: every WindowExec is PARTITIONED (the two-phase dodge's whole
    // point — no empty partition spec = no single-partition window)
    val pCap = plan("qx10_domaincap")
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(pCap.toLowerCase).map(_.group(1)).toList
    assert(winSpecs.nonEmpty, s"qx10 lost its windows:\n$pCap")
    winSpecs.foreach { spec =>
      assert(spec.contains("source"),
        s"qx10 window lost its partition key (spec: $spec):\n$pCap")
    }
    // q112/q113: user-partitioned windows only — no global window, no join
    for (q <- Seq("q112_clampedbalance", "q113_coverage")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(p.toLowerCase).map(_.group(1)).toList
      assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
        s"$q window not user-partitioned:\n$p")
    }
    // qt21: the 1024-row weight table broadcasts onto the bucket counts
    val pClf = plan("qt21_hashclf")
    assert(pClf.contains("BroadcastHashJoin"), pClf)
    assert(!pClf.contains("SortMergeJoin"),
      s"qt21 weight join degraded to SMJ:\n$pClf")
  }

  test("q88/q89: single-pass partial aggregates — no window, no join (q89)") {
    // q89 M4 is ONE groupBy: exactly one shuffle exchange, no WindowExec
    val pM4 = plan("q89_m4")
    assert(!pM4.contains("Window"), s"q89 grew a window:\n$pM4")
    assert(!pM4.contains("Join"), s"q89 grew a join:\n$pM4")
    // q88 bitemporal: conditional aggregates in one groupBy — no join
    // anywhere (the oracle needs two CTEs + a join; the Spark side must not)
    val pBi = plan("q88_bitemporal")
    assert(!pBi.contains("Join"), s"q88 grew a join:\n$pBi")
    assert(!pBi.contains("Window"), s"q88 grew a window:\n$pBi")
  }

  test("round-9 additions: scale claims are plan properties") {
    // qx13: weighted top-(k+1) is a partial top-k, never a global sort
    val pPs = plan("qx13_prioritysample")
    assert(pPs.contains("TakeOrderedAndProject"), pPs)
    assert(!pPs.contains("SortMergeJoin"), pPs)
    // qe6's corpus pass (it runs during query construction, so the
    // RETURNED plan is the tiny local display relation — pin the
    // covariance sub-plan directly): the ONE-buffer imperative
    // aggregate (ObjectHashAggregate), no self-join, no explode
    val pPca = Tables(spark, TestSpark.Sf, "embeddings")
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding")) === 64)
      .selectExpr("cov_accum64(transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT))) AS acc")
      .queryExecution.executedPlan.toString
    assert(pPca.contains("ObjectHashAggregate"),
      s"qe6 covariance lost the imperative-aggregate path:\n$pPca")
    assert(!pPca.contains("Join") && !pPca.contains("Generate"),
      s"qe6 covariance grew a join/explode:\n$pPca")
    // q102/q104: the basket cap's bounded-buffer aggregate is present
    // (the declared fan-out bound — losing it silently would reopen
    // the quadratic). Round 14 moved the cap from a window rank to the
    // fused bottom_k build (BasketCap.cappedPairs): same bound, one
    // exchange — the pin follows the new guard operator.
    assert(plan("q102_basket").contains("bottom_k"), "q102 lost the basket cap")
    assert(plan("q104_triangles").contains("bottom_k"), "q104 lost the basket cap")
    // q125: two window passes, no cartesian
    val pIn = plan("q125_interp")
    assert(pIn.contains("Window") && !pIn.contains("Cartesian"), pIn)
  }

  test("round-9 batch additions: scale claims are plan properties") {
    // qc8: the word -> symbol-count map is BROADCAST against the
    // per-domain counts — the corpus-side relation never sort-merges
    val pQc8 = plan("qc8_tokenbudget")
    assert(pQc8.contains("BroadcastHashJoin"), pQc8)
    assert(!pQc8.contains("SortMergeJoin"), s"qc8 vocab join degraded:\n$pQc8")
    // q135: only the two 8 KB sketches meet — no join of the relations
    // themselves beyond the exact-audit branch; never a cartesian of
    // row data (the crossJoins are 1-row broadcasts)
    val pJc = plan("q135_joincard")
    assert(pJc.contains("ObjectHashAggregate"),
      s"q135 lost the one-buffer sketch aggregate:\n$pJc")
    assert(!pJc.contains("SortMergeJoin"), pJc)
    // qt26: ranks broadcast back; the corpus pass never sort-merges
    val pVg = plan("qt26_vocabgrowth")
    assert(pVg.contains("BroadcastHashJoin"), pVg)
    assert(!pVg.contains("SortMergeJoin"), pVg)
    // qx15: the 32x explode collapses into hash aggregates (map-side
    // partials), never a sort-based aggregate on the exploded rows
    val pBs = plan("qx15_bootstrap")
    assert(pBs.contains("Generate"), pBs)
    assert(!pBs.contains("CartesianProduct"), pBs)
    // q132/q134: the pair joins are equi-joins on the type key over
    // the collapsed daily relation — no cartesian anywhere
    assert(!plan("q132_theilsen").contains("Cartesian"), "q132 cartesian")
    assert(!plan("q134_kendall").contains("Cartesian"), "q134 cartesian")
  }

  test("asof: one shuffle on the key, no re-aggregation join") {
    val events = Tables(spark, TestSpark.Sf, "events")
      .selectExpr("event_id", "user_id AS o_custkey", "ts")
    val orders = Tables(spark, TestSpark.Sf, "orders").select("o_custkey", "o_orderdate")
    val p = graft.operators.AsOfJoin
      .latestAtOrBefore(events, orders, "o_custkey", "ts", "o_orderdate", "last_order")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"as-of fell back to a join:\n$p")
    assert(p.contains("Window"), p)
  }
}
