"""Planted-fixture drives for the round-9 operators: ExactSubstr
duplicated-span detection/removal (operators/substring.py) and
CCNet-style bigram-LM quality scoring (operators/lm.py). The oracle
gates (dedup_substring_spans, quality_lm_score) value-check the
corpus-scale pipelines against DuckDB in test_queries_vs_duckdb; these
tests pin the hand-checkable semantics the gates can't isolate:
keep-first exemption, self-repetition, island adjacency, span
stripping, the add-alpha formula against pure-Python math, and the
broadcast/shuffle LM probe equivalence."""

from __future__ import annotations

import math

import pytest

from parsedmarc_go_spark.operators.lm import (
    lm_score,
    ppl_buckets,
    train_bigram_lm,
)
from parsedmarc_go_spark.operators.substring import (
    duplicated_spans,
    strip_duplicated_spans,
    substring_dedup,
)

SHARED = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"


@pytest.fixture(scope="module")
def substring_docs(spark):
    return spark.createDataFrame(
        [
            (0, "zz0 " + SHARED + " tail0 a b c"),
            (1, "yy1 kk1 " + SHARED + " tail1"),
            (2, "unique words only here nothing repeats at all in this one"),
            (3, SHARED + " " + SHARED),  # self-repetition
            (4, "x y"),  # shorter than k -> no grams
        ],
        ["doc_id", "text"],
    )


def test_duplicated_spans_keep_first(spark, substring_docs):
    rows = {
        (r.doc_id, r.span_start, r.span_end): r.n_dup_grams
        for r in duplicated_spans(substring_docs, k=8).collect()
    }
    # doc 0 holds the first occurrence of every shared gram -> exempt;
    # doc 1's copy sits at token positions 2..11 -> span [2, 12);
    # doc 3 is wall-to-wall duplicated text (two shared copies whose
    # prefix grams repeat) -> the islands merge into one [0, 20) span
    assert rows == {(1, 2, 12): 3, (3, 0, 20): 6}


def test_duplicated_spans_flag_all(spark, substring_docs):
    # keep_first=False marks the doc-0 original too
    by_doc = {}
    for r in duplicated_spans(substring_docs, k=8, keep_first=False).collect():
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    assert (1, 11) in by_doc[0]  # shared run at positions 1..10
    assert by_doc[1] == [(2, 12)]
    assert 2 not in by_doc and 4 not in by_doc


def test_strip_and_compose(spark, substring_docs):
    out = {r.doc_id: r for r in substring_dedup(substring_docs, k=8).collect()}
    assert out[0].n_tokens_removed == 0  # first occurrence survives
    assert out[1].dedup_text == "yy1 kk1 tail1"
    assert out[1].n_tokens_removed == 10
    assert out[2].n_tokens_removed == 0
    assert out[3].dedup_text == ""  # fully duplicated document
    assert out[3].n_tokens_removed == 20
    assert out[4].dedup_text == "x y"  # short doc passes through
    # token accounting: removed + surviving == original count
    for r in out.values():
        survivors = len(r.dedup_text.split(" ")) if r.dedup_text else 0
        assert survivors + r.n_tokens_removed == r.n_tokens


def test_strip_rejects_nothing_without_spans(spark, substring_docs):
    spans = duplicated_spans(substring_docs, k=8).filter("doc_id < 0")
    out = strip_duplicated_spans(substring_docs, spans).collect()
    assert all(r.n_tokens_removed == 0 for r in out)
    assert len(out) == 5


def test_strip_preserves_original_casing(spark):
    # dedup KEYS are lowercased (digest path) so differently-cased
    # copies still match, but the rewritten text must keep the
    # surviving tokens' ORIGINAL casing — a dedup pass must not
    # case-fold the corpus (ADVICE r9: all-lowercase fixtures hid this)
    docs = spark.createDataFrame(
        [
            (0, "First " + SHARED.title() + " Tail0 A B C"),
            (1, "Yy1 kk1 " + SHARED.upper() + " TailOne"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in substring_dedup(docs, k=8).collect()}
    assert out[0].n_tokens_removed == 0
    assert out[0].dedup_text == "First " + SHARED.title() + " Tail0 A B C"
    assert out[1].n_tokens_removed == 10
    assert out[1].dedup_text == "Yy1 kk1 TailOne"


def test_gram_overflow_guard_covers_unique_high_positions(spark, monkeypatch):
    import parsedmarc_go_spark.operators.substring as subm

    monkeypatch.setattr(subm, "_KEY_BASE", 16)
    # 25 unique tokens -> 18 gram positions >= 16; every gram is unique
    # so no span is ever emitted — the old span-only guard missed
    # exactly this document while its okey range collided onward
    text = " ".join(f"t{i}" for i in range(25))
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    with pytest.raises(Exception, match="keep-first key overflows"):
        subm.duplicated_spans(docs, k=8).collect()


def test_island_adjacency_merges_touching_coverage(spark):
    # two duplicated grams at positions p and p+k have touching token
    # coverage -> one span, not two
    filler_a = " ".join(f"fa{i}" for i in range(8))
    filler_b = " ".join(f"fb{i}" for i in range(8))
    run_a = " ".join(f"ra{i}" for i in range(8))
    run_b = " ".join(f"rb{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (0, f"{run_a} {run_b} start"),  # originals
            (1, f"{filler_a} {run_a} {run_b} {filler_b}"),
        ],
        ["doc_id", "text"],
    )
    spans = [
        (r.span_start, r.span_end)
        for r in duplicated_spans(docs, k=8).filter("doc_id = 1").collect()
    ]
    assert spans == [(8, 24)]


LM_REF = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the rug"),
]
LM_CORPUS = [
    (10, "the cat sat on the mat"),
    (11, "zz qq ww ee rr tt"),
    (12, "x"),
]


def _python_lm_nll(ref_texts: list[str], text: str, alpha: float = 0.5) -> float:
    """Pure-Python add-alpha bigram reference with the 1e-4 grid."""
    bg: dict[tuple[str, str], int] = {}
    vocab: set[str] = set()
    for t in ref_texts:
        toks = t.lower().split(" ")
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    c1: dict[str, int] = {}
    for (a, _), c in bg.items():
        c1[a] = c1.get(a, 0) + c
    v = len(vocab)
    toks = text.lower().split(" ")
    total = 0
    pairs = list(zip(toks, toks[1:]))
    for a, b in pairs:
        lp = math.log(
            (bg.get((a, b), 0) + alpha) / (c1.get(a, 0) + alpha * (v + 1))
        )
        total += math.floor(lp * 10000.0 + 0.5)
    return -(total / 10000.0) / len(pairs)


def test_lm_score_matches_python_reference(spark):
    ref = spark.createDataFrame(LM_REF, ["doc_id", "text"])
    corpus = spark.createDataFrame(LM_CORPUS, ["doc_id", "text"])
    bigrams, histories, vocab = train_bigram_lm(ref)
    out = {r.doc_id: r for r in lm_score(corpus, bigrams, histories, vocab).collect()}
    ref_texts = [t for _, t in LM_REF]
    assert out[10].n_bigrams == 5
    assert out[10].nll == pytest.approx(_python_lm_nll(ref_texts, LM_CORPUS[0][1]), abs=1e-12)
    assert out[11].nll == pytest.approx(_python_lm_nll(ref_texts, LM_CORPUS[1][1]), abs=1e-12)
    assert out[10].nll < out[11].nll  # fluent text scores better than OOV soup
    assert out[12].n_bigrams == 0 and out[12].nll is None


def test_lm_score_shuffle_join_matches_broadcast(spark):
    ref = spark.createDataFrame(LM_REF, ["doc_id", "text"])
    corpus = spark.createDataFrame(LM_CORPUS, ["doc_id", "text"])
    lm = train_bigram_lm(ref)
    a = sorted(lm_score(corpus, *lm, broadcast_lm=True).collect())
    b = sorted(lm_score(corpus, *lm, broadcast_lm=False).collect())
    assert a == b


def test_lm_score_repartitions_only_under_parallel_input(spark):
    """An already-parallel corpus scan must NOT be reshuffled before
    pair formation (the _ensure_parallelism idiom — VERDICT r9 finding
    3); an under-parallel one must."""
    ref = spark.createDataFrame(LM_REF, ["doc_id", "text"])
    lm = train_bigram_lm(ref)
    sc = spark.sparkContext
    wide = spark.createDataFrame(LM_CORPUS, ["doc_id", "text"]).repartition(
        sc.defaultParallelism
    ).localCheckpoint()  # pin the partition count, cut the repartition node
    plan = lm_score(wide, *lm)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan
    narrow = spark.createDataFrame(LM_CORPUS, ["doc_id", "text"]).coalesce(1)
    plan = lm_score(narrow, *lm)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    # and both shapes score identically
    a = sorted(lm_score(wide, *lm).collect())
    b = sorted(lm_score(narrow, *lm).collect())
    assert a == b


def test_ppl_buckets_order_and_nulls(spark):
    ref = spark.createDataFrame(LM_REF, ["doc_id", "text"])
    corpus = spark.createDataFrame(LM_CORPUS, ["doc_id", "text"])
    scored = lm_score(corpus, *train_bigram_lm(ref))
    buckets = {r.doc_id: r.ppl_bucket for r in ppl_buckets(scored).collect()}
    assert buckets[10] == "head"  # lowest nll
    assert buckets[12] == "tail"  # NULL nll lands in tail
    assert set(buckets.values()) <= {"head", "middle", "tail"}


def _final_plan(df) -> str:
    df.collect()  # let AQE finalize
    p = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan's toString appends the pre-AQE "Initial Plan"
    # after the final one — keep only the executed section or every
    # node would be counted twice
    return p.split("== Initial Plan ==")[0]


def test_substring_plan_shape(spark):
    """The 100 TB contract: at most three hash exchanges — the raw-text
    parallelism spread (r11: the CPU-heavy gram+sha256 phase must not
    inherit a small scan's partitioning; measured 6.5 → 2.9 s at sf1),
    one on the gram digest (count + winner in a single window pass),
    one on doc_id for the island windows + span aggregation — and no
    broadcast of anything corpus-sized. All exchanges are doc- or
    digest-keyed; none is a SinglePartition collapse."""
    from parsedmarc_go_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    p = _final_plan(QUERIES["dedup_substring_spans"](spark, SF_SMOKE))
    exchanges = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) <= 3, p
    assert any("gh" in ln for ln in exchanges)
    assert any("doc_id" in ln for ln in exchanges)
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p


def test_lm_score_plan_broadcasts_lm(spark):
    """Both LM probes must be broadcast joins (the corpus side never
    shuffles for the probe) and the vocab ride-along a broadcast
    1-row nested loop — no corpus-keyed exchange except the
    repartition-before-transform and the doc_id aggregation."""
    from parsedmarc_go_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    p = _final_plan(QUERIES["quality_lm_score"](spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row vocab cross join
    assert "CartesianProduct" not in p


def _python_lm_lp_total(ref_texts: list[str], text: str, alpha: float = 0.5) -> int:
    """Summed grid-quantized log-probs (the integer the engines sum)."""
    bg: dict[tuple[str, str], int] = {}
    vocab: set[str] = set()
    for t in ref_texts:
        toks = t.lower().split(" ")
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    c1: dict[str, int] = {}
    for (a, _), c in bg.items():
        c1[a] = c1.get(a, 0) + c
    v = len(vocab)
    toks = text.lower().split(" ")
    total = 0
    for a, b in zip(toks, toks[1:]):
        lp = math.log(
            (bg.get((a, b), 0) + alpha) / (c1.get(a, 0) + alpha * (v + 1))
        )
        total += math.floor(lp * 10000.0 + 0.5)
    return total


def test_dsir_log_weights_match_python_reference(spark):
    from parsedmarc_go_spark.operators.lm import dsir_log_weights

    target_texts = ["the cat sat on the mat", "the cat ran to the mat"]
    raw_texts = ["zz qq ww ee rr tt", "qq zz tt rr ww ee", "the dog barked"]
    target = spark.createDataFrame(list(enumerate(target_texts)), ["doc_id", "text"])
    raw = spark.createDataFrame(list(enumerate(raw_texts)), ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(10, "the cat sat on the mat"), (11, "zz qq ww ee rr tt"), (12, "x")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in dsir_log_weights(
            corpus, train_bigram_lm(target), train_bigram_lm(raw)
        ).collect()
    }
    for doc_id, text in [(10, "the cat sat on the mat"), (11, "zz qq ww ee rr tt")]:
        want = (
            _python_lm_lp_total(target_texts, text)
            - _python_lm_lp_total(raw_texts, text)
        ) / 10000.0
        assert out[doc_id].log_w == pytest.approx(want, abs=1e-12)
    # target-like text gets positive evidence, raw-like negative
    assert out[10].log_w > 0 > out[11].log_w
    assert out[12].log_w == 0.0 and out[12].n_bigrams == 0  # <2 tokens


def test_dsir_sample_is_deterministic_weighted_topk(spark):
    from parsedmarc_go_spark.operators.lm import dsir_sample

    target = spark.createDataFrame(
        [(0, "good clean prose about cats and mats")], ["doc_id", "text"]
    )
    raw = spark.createDataFrame(
        [(0, "random noise tokens qq zz ww")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [(i, "good clean prose about cats and mats") for i in range(20)]
        + [(100 + i, "random noise tokens qq zz ww") for i in range(20)],
        ["doc_id", "text"],
    )
    lm_t, lm_r = train_bigram_lm(target), train_bigram_lm(raw)
    a = sorted(r.doc_id for r in dsir_sample(corpus, lm_t, lm_r, k=10).collect())
    b = sorted(r.doc_id for r in dsir_sample(corpus, lm_t, lm_r, k=10).collect())
    assert a == b  # same corpus -> same sample, no rand() anywhere
    assert len(a) == 10
    # weights dominate the Gumbel noise here (log_w gap is tens of
    # nats): every selected doc is from the target-like half
    assert all(i < 100 for i in a)
    # k = |corpus| returns everything
    assert len(dsir_sample(corpus, lm_t, lm_r, k=40).collect()) == 40


def test_lm_entry_points_reject_non_positive_alpha(spark):
    """With alpha = 0 an unseen bigram's log(0) is NULL and n_bigrams /
    nll would silently undercount; every entry point refuses it."""
    from parsedmarc_go_spark.operators.lm import dsir_log_weights, dsir_sample

    ref = spark.createDataFrame(LM_REF, ["doc_id", "text"])
    corpus = spark.createDataFrame(LM_CORPUS, ["doc_id", "text"])
    lm = train_bigram_lm(ref)
    for alpha in (0.0, -0.5):
        with pytest.raises(ValueError, match="alpha must be > 0"):
            lm_score(corpus, *lm, alpha=alpha)
        with pytest.raises(ValueError, match="alpha must be > 0"):
            dsir_log_weights(corpus, lm, lm, alpha=alpha)
        with pytest.raises(ValueError, match="alpha must be > 0"):
            dsir_sample(corpus, lm, lm, k=1, alpha=alpha)


NB_LABELED = [
    ("hq", "the cat sat on the mat"),
    ("hq", "a dog sat on a rug"),
    ("lq", "zz qq buy now click here"),
    ("lq", "qq zz free free free"),
]


def _python_nb_score(labeled, text: str, label: str, alpha: float = 0.5) -> float:
    """Pure-Python NB with the 1e-4 grid (counts + shared vocab)."""
    cnt: dict[tuple[str, str], int] = {}
    tot: dict[str, int] = {}
    ndocs: dict[str, int] = {}
    vocab: set[str] = set()
    for lab, t in labeled:
        ndocs[lab] = ndocs.get(lab, 0) + 1
        for tok in t.lower().split(" "):
            cnt[(lab, tok)] = cnt.get((lab, tok), 0) + 1
            tot[lab] = tot.get(lab, 0) + 1
            vocab.add(tok)
    v = len(vocab)
    s = math.floor(math.log(ndocs[label] / sum(ndocs.values())) * 10000.0 + 0.5)
    for tok in text.lower().split(" "):
        lp = math.log(
            (cnt.get((label, tok), 0) + alpha) / (tot[label] + alpha * (v + 1))
        )
        s += math.floor(lp * 10000.0 + 0.5)
    return s / 10000.0


def test_nb_score_matches_python_reference(spark):
    from parsedmarc_go_spark.operators.classify import nb_score, train_nb_classifier

    labeled = spark.createDataFrame(NB_LABELED, ["label", "text"])
    corpus = spark.createDataFrame(
        [(1, "the cat sat"), (2, "free free click")], ["doc_id", "text"]
    )
    model = train_nb_classifier(labeled)
    out = {(r.doc_id, r.label): r.score for r in nb_score(corpus, model).collect()}
    for doc_id, text in [(1, "the cat sat"), (2, "free free click")]:
        for lab in ("hq", "lq"):
            want = _python_nb_score(NB_LABELED, text, lab)
            assert out[(doc_id, lab)] == pytest.approx(want, abs=1e-12)


def test_nb_classify_argmax_and_model_join_modes(spark):
    from parsedmarc_go_spark.operators.classify import (
        nb_classify,
        nb_score,
        train_nb_classifier,
    )

    labeled = spark.createDataFrame(NB_LABELED, ["label", "text"])
    corpus = spark.createDataFrame(
        [(1, "the cat sat on a mat"), (2, "free qq zz click now")],
        ["doc_id", "text"],
    )
    model = train_nb_classifier(labeled)
    pred = {r.doc_id: r.pred_label for r in nb_classify(corpus, model).collect()}
    assert pred == {1: "hq", 2: "lq"}
    a = sorted(nb_score(corpus, model, broadcast_model=True).collect())
    b = sorted(nb_score(corpus, model, broadcast_model=False).collect())
    assert a == b


def test_kn_score_hand_computed(spark):
    """Interpolated Kneser-Ney pinned against hand math. Reference
    corpus: one doc 'a b a b c'. Bigram types: (a,b)x2, (b,a)x1,
    (b,c)x1 -> n_types=3, v=3. Contexts: a:(c1=2,fwd=1),
    b:(c1=2,fwd=2). Continuations: b:1, a:1, c:1.
    pcont(x) = (n1p_bwd+1)/(3+3+1).
    p(b|a) = max(2-.75,0)/2 + .75*1/2 * 2/7 = 0.625 + 0.10714...
    p(c|a) = 0/2 + .75*1/2 * 2/7          (unseen pair, seen ctx)
    p(x|z) = pcont(x)                      (unseen context z)"""
    import math

    from parsedmarc_go_spark.operators.lm import (
        kn_score,
        train_kn_bigram_lm,
    )

    ref = spark.createDataFrame([(0, "a b a b c")], ["doc_id", "text"])
    lm = train_kn_bigram_lm(ref)
    probe = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "z a"), (4, "a")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["kn_nll"])
        for r in kn_score(probe, *lm).collect()
    }

    def fp(p):
        return math.floor(math.log(p) * 10000.0 + 0.5)

    p_ab = (2 - 0.75) / 2 + 0.75 * (1 / 2) * (2 / 7)
    p_ac = 0.0 + 0.75 * (1 / 2) * (2 / 7)
    p_za = (1 + 1) / 7  # unseen context 'z' -> pcont(a)
    assert got[1] == (1, -fp(p_ab) / 10000.0)
    assert got[2] == (1, -fp(p_ac) / 10000.0)
    assert got[3] == (1, -fp(p_za) / 10000.0)
    assert got[4] == (0, None)  # <2 tokens: no pairs, NULL nll
    # smoothing sanity: a seen pair beats an unseen pair in the same
    # context, which beats an unseen context
    assert p_ab > p_ac and got[1][1] < got[2][1]


def test_duplicated_spans_salted_equals_window(spark, substring_docs):
    """VERDICT r10 task 5: the two-phase salted fallback (partial
    count/min over (gh, salt) -> merge -> stats re-join) must be
    output-identical to the digest-window default — on the planted
    fixture, in both keep_first modes, and on the driver's testdata."""
    from parsedmarc_go_spark.tables import load

    def rows(df):
        return sorted(
            (r.doc_id, r.span_start, r.span_end, r.n_dup_grams) for r in df.collect()
        )

    for keep_first in (True, False):
        want = rows(duplicated_spans(substring_docs, k=8, keep_first=keep_first))
        got = rows(
            duplicated_spans(
                substring_docs, k=8, keep_first=keep_first, salted=True, n_salts=7
            )
        )
        assert got == want, keep_first

    corpus = load(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    assert rows(duplicated_spans(corpus, k=8, salted=True)) == rows(
        duplicated_spans(corpus, k=8)
    )


def test_duplicated_spans_salted_plan_has_no_gram_window(spark):
    """The skew mechanism itself: on a corpus whose hot gram repeats in
    every document (planted boilerplate), the salted plan must contain
    NO window exchange keyed on the gram digest — the gh work happens
    in the two-phase aggregate + a shuffle JOIN (which AQE's skew
    splitting can subdivide; window exchanges it cannot) — and the only
    Window nodes left are the per-doc island pass."""
    boiler = "the quick brown fox jumps over the lazy dog again"
    docs = spark.createDataFrame(
        [(i, f"u{i} v{i} " + boiler) for i in range(200)], ["doc_id", "text"]
    )
    df = duplicated_spans(docs, k=8, salted=True)
    p = _final_plan(df)
    window_lines = [ln for ln in p.splitlines() if "Window" in ln and "windowspecdefinition" in ln]
    assert window_lines, "island pass must still be a window"
    assert all("gh" not in ln for ln in window_lines), p
    # the hot-gram fold is a real two-phase aggregate: partials keyed
    # on (gh, salt) before the gh merge
    assert "__salt" in p, p
