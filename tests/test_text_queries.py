"""Text and curation query pins (plans/text_queries.py and the text
stages of plans/pipeline_queries.py).

- BPE merge training, validated against a brute-force Python reference
  on adversarial inputs: l==r symbol runs ("aaaa"), pair-count ties
  (tiebreak is count DESC, left ASC, right ASC), and words collapsing to
  a single symbol, none of which the fixed substrate reliably produces.
- Tie- and boundary-adversarial property tests for the quality flags,
  classifiers, drift and vocabulary statistics, plus plan-shape pins.

Pattern per tests/test_r9_properties.py: write a tiny documents parquet
into tmp_path and call the REGISTERED query.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SMOKE_SF, write_docs
from utility_service_areas_spark.plans.registry import physical_plan


def _brute_bpe(texts, n_merges, vocab_n):
    import re
    from collections import Counter

    wc = Counter(w for t in texts for w in re.findall("[a-z]+", t.lower()))
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_n]
    vocab = [(list(w), f) for w, f in top]
    merges = []
    for rnd in range(n_merges):
        counts = Counter()
        for syms, f in vocab:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rnd + 1, l, r, l + r, c))
        nxt = []
        for syms, f in vocab:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, f))
        vocab = nxt
    return merges


def _brute_bpe_stats(texts, n_merges, vocab_n):
    """Per-round corpus-cost replay with the same early-stop semantics
    as the Spark fold: stats for round 0, then one row per COMPLETED
    merge round."""
    import re
    from collections import Counter

    wc = Counter(w for t in texts for w in re.findall("[a-z]+", t.lower()))
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_n]
    vocab = [(list(w), f) for w, f in top]

    def stat(rnd):
        total = sum(f * len(syms) for syms, f in vocab)
        types = len({s for syms, _ in vocab for s in syms})
        return (rnd, total, types)

    stats = [stat(0)]
    for rnd in range(n_merges):
        counts = Counter()
        for syms, f in vocab:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (l, r), _ = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        nxt = []
        for syms, f in vocab:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, f))
        vocab = nxt
        stats.append(stat(rnd + 1))
    return stats


def _run_bpe(spark, tmpdir, texts):
    from utility_service_areas_spark.plans.registry import all_queries
    from utility_service_areas_spark.plans.text_queries import (
        _BPE_MERGES,
        _BPE_VOCAB_N,
    )

    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmpdir, "documents.parquet")
    )
    got = [
        (r.merge_round, r.left_sym, r.right_sym, r.merged_sym, r.pair_count)
        for r in all_queries()["tokenizer_bpe_merges"](spark, tmpdir)
        .orderBy("merge_round")
        .collect()
    ]
    want = _brute_bpe(texts, _BPE_MERGES, _BPE_VOCAB_N)
    assert got == want

    got_stats = [
        (r.merge_round, r.total_symbols, r.n_symbol_types)
        for r in all_queries()["bpe_compression_sweep"](spark, tmpdir)
        .orderBy("merge_round")
        .collect()
    ]
    want_stats = _brute_bpe_stats(texts, _BPE_MERGES, _BPE_VOCAB_N)
    assert got_stats == want_stats


def test_bpe_fixed_adversarial_cases(spark, tmp_path_factory):
    cases = [
        # l==r runs: greedy non-overlap must pair even offsets only
        ["aaaa aaa aa a", "aaaaa"],
        # classic repeated-bigram word + tie-heavy tiny alphabet
        ["banana bananas ban", "abab baba abba"],
        # every word collapses to one symbol before rounds run out
        ["ab ab ab", "cd cd"],
    ]
    for i, texts in enumerate(cases):
        _run_bpe(spark, str(tmp_path_factory.mktemp(f"bpe{i}")), texts)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=24),
        min_size=1,
        max_size=8,
    )
)
def test_bpe_matches_brute_reference(spark, tmp_path_factory, texts):
    _run_bpe(spark, str(tmp_path_factory.mktemp("bpeh")), texts)


def test_gopher_flags_tie_boundary_exact(spark, tmp_path):
    """Boundary-adversarial: docs planted EXACTLY at each rule's
    threshold (50 words; mean word length exactly 3 and exactly 10;
    top-token share exactly 1/5; type-token ratio exactly 0.3) must
    PASS — the bounds are inclusive, compared by integer
    cross-multiplication, so there is no float epsilon to drift."""
    from utility_service_areas_spark.plans.text_queries import (
        docs_gopher_quality_flags,
    )

    # doc 1: exactly 50 distinct 3-char words incl 2 stopwords
    #   -> n_words=50 (boundary), sum_len=3*50 (mean=3 boundary),
    #      top_tf=1, n_distinct=50
    w50 = ["the", "and"] + [f"w{j:02d}" for j in range(48)]
    # doc 2: 60 words of length exactly 10 (mean = 10 boundary), one
    #   word repeated 12x (top share 12/60 = 1/5 boundary), 18
    #   distinct (type-token 18/60 = 0.3 boundary), NO stopwords —
    #   boundary-passes three rules while failing the stopword rule.
    big = [f"xx{j:08d}" for j in range(17)]  # 10-char words
    doc2 = ["yyyyyyyyyy"] * 12 + big * 2 + big[:14]
    assert len(doc2) == 60 and len(set(doc2)) == 18
    rows = [(1, " ".join(w50)), (2, " ".join(doc2))]
    write_docs(spark, str(tmp_path), rows)

    got = {
        r.doc_id: r
        for r in docs_gopher_quality_flags(spark, str(tmp_path)).collect()
    }
    d1 = got[1]
    assert (d1.r_word_count, d1.r_mean_word_len, d1.r_repetition) == (1, 1, 1)
    assert d1.r_stopwords == 1 and d1.r_type_token == 1 and d1.pass_all == 1
    d2 = got[2]
    # mean exactly 10 -> pass; top share exactly 1/5 -> pass;
    # type-token 18/60 = 0.3 exactly -> pass; no stopwords -> fail
    assert (d2.r_mean_word_len, d2.r_repetition, d2.r_type_token) == (1, 1, 1)
    assert d2.r_stopwords == 0 and d2.pass_all == 0


def test_naive_bayes_learns_separable_sources(spark, tmp_path):
    """Semantic check on a SEPARABLE planted corpus: two sources with
    disjoint vocabularies classify perfectly (diagonal confusion),
    and the prediction is invariant to doc order."""
    from utility_service_areas_spark.plans.text_queries import (
        text_naive_bayes_source,
    )
    from utility_service_areas_spark.sources.tables import load_table

    rows = []
    for i in range(20):
        rows.append((i, "alpha beta gamma alpha beta", "en", "srcA", 27))
    for i in range(20, 40):
        rows.append((i, "delta epsilon zeta delta zeta", "en", "srcB", 29))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.actual, r.predicted): r.n_docs
        for r in text_naive_bayes_source(spark, str(tmp_path)).collect()
    }
    assert got == {("srcA", "srcA"): 20, ("srcB", "srcB"): 20}


def test_naive_bayes_argmax_tie_is_class_asc(spark, tmp_path):
    """Tie-adversarial: two classes with IDENTICAL token statistics
    and IDENTICAL priors produce exactly equal integer scores — the
    winner must be the lexicographically smaller class, on every doc."""
    from utility_service_areas_spark.plans.text_queries import (
        text_naive_bayes_source,
    )

    rows = []
    for i in range(10):
        rows.append((i, "mirror words same stats", "en", "srcA", 23))
        rows.append((100 + i, "mirror words same stats", "en", "srcB", 23))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.actual, r.predicted): r.n_docs
        for r in text_naive_bayes_source(spark, str(tmp_path)).collect()
    }
    # every doc (both actual classes) predicts srcA: scores tie exactly
    assert got == {("srcA", "srcA"): 10, ("srcB", "srcA"): 10}


def test_dsir_weights_rank_target_lookalikes_first(spark, tmp_path):
    """Semantic check: docs written in the target (en) vocabulary get
    strictly higher importance weight than docs in a disjoint
    vocabulary — importance resampling would select the lookalikes."""
    from utility_service_areas_spark.plans.pipeline_queries import (
        docs_dsir_importance,
    )

    rows = []
    for i in range(10):
        rows.append((i, "table join scan filter table", "en", "s", 28))
    for i in range(10, 20):
        rows.append((i, "zorp blique frall zorp frall", "de", "s", 28))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = docs_dsir_importance(spark, str(tmp_path)).collect()
    en_w = [r.weight_millibits for r in got if r.lang == "en"]
    de_w = [r.weight_millibits for r in got if r.lang == "de"]
    assert min(en_w) > max(de_w)


def test_text_ops_plan_shape(spark):
    """Registry-wide anti-pattern pins for the three new text/LLM ops:
    no cartesian product (the class/stats cross joins must all be
    broadcasts), no Python row UDF. (Exchange SinglePartition is NOT
    pinned away here: these plans each carry one 1-row global stats
    agg — V/N for NB, N_t/N_r for DSIR — whose final step is a
    32-partial-row single-partition agg, the same scalar-agg shape as
    #219's stats; the r12 no-SinglePartition pin targets kernels
    where a DATA-sized frame would collapse.)"""
    from utility_service_areas_spark.plans.pipeline_queries import (
        docs_dsir_importance,
    )
    from utility_service_areas_spark.plans.text_queries import (
        docs_gopher_quality_flags,
        text_naive_bayes_source,
    )

    for fn in (
        docs_gopher_quality_flags,
        text_naive_bayes_source,
        docs_dsir_importance,
    ):
        plan = physical_plan(fn(spark, SMOKE_SF))
        assert "CartesianProduct" not in plan, fn
        assert "BatchEvalPython" not in plan, fn


def test_kl_drift_zero_for_identical_sources(spark, tmp_path):
    """A source whose token distribution IS the corpus distribution
    reads KL = 0 exactly; a disjoint-vocabulary source reads large
    positive KL."""
    from utility_service_areas_spark.plans.text_queries import source_kl_drift

    rows = []
    # srcA and srcB: identical distributions (same doc set)
    for i in range(10):
        rows.append((i, "apple banana cherry", "en", "srcA", 19))
        rows.append((100 + i, "apple banana cherry", "en", "srcB", 19))
    # srcC: disjoint vocabulary
    for i in range(10):
        rows.append((200 + i, "xylo ypsil zeta", "en", "srcC", 15))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r.source: r.kl_millibits for r in source_kl_drift(spark, str(tmp_path)).collect()}
    assert got["srcA"] == got["srcB"]
    # A/B each hold 2/3 of a 2-distribution mixture... their KL vs the
    # blended corpus is small but NONZERO; C is far. Order pin:
    assert got["srcC"] > got["srcA"] > 0


def test_quality_pairs_tie_and_degenerate_groups(spark, tmp_path):
    """Tie-adversarial: (a) an all-equal-quality source yields NO
    pair; (b) quality ties on the best/worst ends break to the
    smaller doc_id on BOTH ends."""
    from utility_service_areas_spark.plans.text_queries import (
        quality_pair_mining,
    )

    rows = [
        # srcEq: three byte-identical docs -> identical scores -> no pair
        (1, "same words here", "en", "srcEq", 15),
        (2, "same words here", "en", "srcEq", 15),
        (3, "same words here", "en", "srcEq", 15),
        # srcTie: docs 10,11 identical GOOD; 20,21 identical BAD
        (10, "alpha beta gamma delta epsilon", "en", "srcTie", 30),
        (11, "alpha beta gamma delta epsilon", "en", "srcTie", 30),
        (20, "zzz zzz zzz zzz !!!! ????", "en", "srcTie", 25),
        (21, "zzz zzz zzz zzz !!!! ????", "en", "srcTie", 25),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r.source: r for r in quality_pair_mining(spark, str(tmp_path)).collect()}
    assert "srcEq" not in got  # degenerate group -> no pair
    assert got["srcTie"].chosen_doc_id == 10  # tie -> smaller id
    assert got["srcTie"].rejected_doc_id == 20
    assert got["srcTie"].margin_micros > 0


def test_curriculum_rank_matches_global_sort_with_heavy_ties(spark, tmp_path):
    """The no-sort ranking equals a brute global sort, on a corpus
    where 90% of docs share one token count (the offsets + keyed
    row_number must agree with the single global window exactly)."""
    from utility_service_areas_spark.plans.text_queries import (
        docs_curriculum_rank,
    )

    rows = []
    for i in range(90):
        rows.append((i, "a b c", "en", "s", 5))  # 3 tokens, all tied
    for i in range(90, 95):
        rows.append((i, "a", "en", "s", 1))  # 1 token
    for i in range(95, 100):
        rows.append((i, "a b c d e f", "en", "s", 11))  # 6 tokens
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: r.curriculum_rank
        for r in docs_curriculum_rank(spark, str(tmp_path)).collect()
    }
    n_tok = {i: (3 if i < 90 else (1 if i < 95 else 6)) for i in range(100)}
    order = sorted(range(100), key=lambda i: (n_tok[i], i))
    want = {doc: rank + 1 for rank, doc in enumerate(order)}
    assert got == want


def test_vocab_coverage_boundaries_and_tie_runs(spark, tmp_path):
    """K exactly at a tie-run boundary and K splitting a tie run both
    give the value-exact coverage (tied types are interchangeable);
    K beyond the vocabulary covers everything."""
    from utility_service_areas_spark.plans.text_queries import (
        vocab_coverage_sweep,
    )

    # vocabulary: 1 type x 100, 15 types x 10 each, 200 types x 1
    text_parts = ["big"] * 100
    for i in range(15):
        text_parts += [f"mid{i}"] * 10
    for i in range(200):
        text_parts.append(f"rare{i:03d}")
    write_docs(spark, str(tmp_path), [(1, " ".join(text_parts))])
    got = {
        r.vocab_k: (r.covered_tokens, r.total_tokens, r.coverage_micros)
        for r in vocab_coverage_sweep(spark, str(tmp_path)).collect()
    }
    total = 100 + 150 + 200
    # K=16 = exactly {big} + all 15 mid types (boundary)
    assert got[16][0] == 100 + 150
    # K=64 splits the 200-type rare tie run: 100+150 + (64-16)*1
    assert got[64][0] == 100 + 150 + 48
    # K=256 and K=1024 exceed the 216-type vocabulary: full coverage
    assert got[256][0] == total and got[1024][0] == total
    assert got[1024][2] == 1_000_000


def test_heaps_fit_recovers_planted_exponent(spark, tmp_path):
    """Semantic pin: a corpus planted with V = N^0.5 per source (each
    source's doc holds sqrt(N) distinct types cycled N times) fits
    beta ~ 0.5; a full-diversity corpus (every token distinct) fits
    beta ~ 1."""
    from utility_service_areas_spark.plans.text_queries import corpus_heaps_fit

    def corpus(name, beta_one):
        rows = []
        for si, n in enumerate((256, 1024, 4096)):
            if beta_one:
                words = [f"s{si}w{j}" for j in range(n)]
            else:
                v = int(n**0.5)
                words = [f"s{si}w{j % v}" for j in range(n)]
            rows.append((si, " ".join(words), "en", f"src{si}", len(words)))
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{tmp_path}/{name}/documents.parquet")

    corpus("sqrt", beta_one=False)
    got = corpus_heaps_fit(spark, f"{tmp_path}/sqrt").collect()[0]
    assert got.n_points == 3
    assert 450_000 <= got.beta_micros <= 550_000

    corpus("full", beta_one=True)
    got = corpus_heaps_fit(spark, f"{tmp_path}/full").collect()[0]
    assert 990_000 <= got.beta_micros <= 1_010_000
