"""BPE tokenizer training (operators/bpe.py) value-pinned against a
pure-Python Sennrich (2016) reference: merge sequence, final word
segmentations, vocabulary ranks, and corpus encoding round-trip. The
gates (vocab_bpe_pairs full-oracle, vocab_bpe_merges rows-only) cover
the corpus-scale pipeline in test_queries_vs_duckdb; these tests pin
the iteration semantics SQL can't express."""

from __future__ import annotations

import pytest

from parsedmarc_go_spark.operators.bpe import (
    END_OF_WORD,
    bpe_segment_corpus,
    bpe_train,
    bpe_vocab,
    word_freqs,
)

SF_SMOKE = "/root/testdata/sf0.001"


def _python_bpe(freqs: dict[str, int], n_merges: int, min_pair_count: int = 2):
    """Sennrich's algorithm verbatim: count adjacent symbol pairs
    weighted by word frequency, merge the most frequent left-to-right
    non-overlapping, repeat. Winner tie-break (count desc, pair asc)
    matches bpe_train."""
    vocab = {w: tuple(list(w) + [END_OF_WORD]) for w in freqs}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freqs[w]
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((a, b, c))
        new_vocab = {}
        for w, syms in vocab.items():
            out: list[str] = []
            carry = None
            for s in syms:
                if carry == a and s == b:
                    out.append(a + b)
                    carry = None
                else:
                    if carry is not None:
                        out.append(carry)
                    carry = s
            if carry is not None:
                out.append(carry)
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return merges, vocab


@pytest.fixture(scope="module")
def classic_docs(spark):
    # the Sennrich-paper-style toy corpus, with repetition supplying
    # frequency weight and an overlap-greedy case ('aaaa')
    rows = [
        (0, "low low low low low lower lower newest newest"),
        (1, "newest newest newest newest widest widest widest aaaa"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bpe_train_matches_python_reference_classic(spark, classic_docs):
    freqs = {
        r["word"]: r["freq"] for r in word_freqs(classic_docs).collect()
    }
    want_merges, want_vocab = _python_bpe(freqs, n_merges=10)
    got_merges, seg = bpe_train(classic_docs, n_merges=10)
    assert got_merges == want_merges
    got_vocab = {r["word"]: tuple(r["syms"]) for r in seg.collect()}
    assert got_vocab == want_vocab
    # 'est</w>' must have formed (the famous suffix merge): newest 6 +
    # widest 3 occurrences drive e,s / es,t / est,</w> merges
    assert any(a + b == "est" + END_OF_WORD for a, b, _ in got_merges) or any(
        "est" + END_OF_WORD in v for v in ("".join(s) for s in got_vocab.values())
    )


def test_bpe_train_matches_python_reference_corpus(spark):
    """Full agreement on the real documents table at sf0.001 — every
    merge and every distinct word's final segmentation."""
    from parsedmarc_go_spark.tables import load

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    freqs = {r["word"]: r["freq"] for r in word_freqs(docs).collect()}
    want_merges, want_vocab = _python_bpe(freqs, n_merges=8)
    got_merges, seg = bpe_train(docs, n_merges=8)
    assert got_merges == want_merges
    got_vocab = {r["word"]: tuple(r["syms"]) for r in seg.collect()}
    assert got_vocab == want_vocab


@pytest.mark.slow  # >10 s wall: excluded from the default lane (run -m "")
def test_bpe_batched_rounds_equal_serial(spark, classic_docs):
    """Round-16 batched training (VERDICT r15 task 6): the top-m
    prefix-acceptance guards must make the batched merge table
    BIT-identical to the serial loop — on the classic corpus, on a
    tie-heavy corpus (equal counts exercise the strict-bound guard),
    and on a self-pair chain (a merge that can create its own
    competitor must end its batch). Fewer rounds is the point: stats
    prove batching actually engaged."""
    tie_docs = spark.createDataFrame(
        [
            (0, "ab ab ab ab cd cd cd cd xy xy xy"),
            (1, "aaaa aaaa bb bb bb pq pq pq pq"),
        ],
        ["doc_id", "text"],
    )
    for docs, n in ((classic_docs, 10), (tie_docs, 8)):
        serial, seg1 = bpe_train(docs, n_merges=n, batch_merges=1)
        st: dict = {}
        batched, seg2 = bpe_train(
            docs, n_merges=n, batch_merges=8, train_stats=st
        )
        assert batched == serial
        assert st["merges"] == len(serial)
        v1 = {r["word"]: tuple(r["syms"]) for r in seg1.collect()}
        v2 = {r["word"]: tuple(r["syms"]) for r in seg2.collect()}
        assert v1 == v2
    # batching must actually reduce rounds somewhere (the tie corpus
    # has disjoint-symbol equal-count pairs that batch together)
    assert st["rounds"] < len(batched) or len(batched) <= 1


def test_bpe_overlap_merges_left_to_right(spark):
    docs = spark.createDataFrame([(0, "aaaa aaaa aaaa")], ["doc_id", "text"])
    merges, seg = bpe_train(docs, n_merges=1)
    assert merges[0][:2] == ("a", "a")
    syms = tuple(seg.collect()[0]["syms"])
    # greedy non-overlapping: a a a a </w> -> aa aa </w>, never aaa
    assert syms == ("aa", "aa", END_OF_WORD)


def test_bpe_min_pair_count_stops_training(spark):
    docs = spark.createDataFrame(
        [(0, "ab cd ef")], ["doc_id", "text"]
    )  # every pair occurs once
    merges, _ = bpe_train(docs, n_merges=5, min_pair_count=2)
    assert merges == []


def test_bpe_vocab_ranks_and_counts(spark, classic_docs):
    _, seg = bpe_train(classic_docs, n_merges=6)
    v = bpe_vocab(seg, size=10).collect()
    assert [r["token_id"] for r in v] == list(range(len(v)))
    # ranks honor (cnt desc, token asc)
    keys = [(-r["cnt"], r["token"]) for r in v]
    assert keys == sorted(keys)


def test_bpe_segment_corpus_round_trip_with_oov(spark, classic_docs):
    """Encoding a doc containing an out-of-vocabulary word still
    reconstructs the original tokens when the end-of-word markers are
    unfused: OOV words fall back to char symbols."""
    _, seg = bpe_train(classic_docs, n_merges=6)
    probe = spark.createDataFrame(
        [(99, "low newest zebra")], ["doc_id", "text"]
    )
    out = bpe_segment_corpus(probe, seg).collect()[0]
    rebuilt = (
        "".join(out["bpe_tokens"]).replace(END_OF_WORD, " ").strip()
    )
    assert rebuilt == "low newest zebra"
    assert out["n_bpe_tokens"] == len(out["bpe_tokens"])
    # zebra was never trained: it must appear as fallback chars
    toks = out["bpe_tokens"]
    zi = toks.index("z")
    assert toks[zi : zi + 6] == ["z", "e", "b", "r", "a", END_OF_WORD]


def test_maxmunch_encode_greedy_unk_and_oov(spark):
    """Max-munch semantics on a planted vocab: longest match wins at
    every position (never a shorter piece that would allow a longer
    later one — greedy, not optimal), an unmatchable position turns
    the WHOLE word into [UNK], and OOV words segment through in-vocab
    substrings."""
    from parsedmarc_go_spark.operators.bpe import maxmunch_encode

    docs = spark.createDataFrame(
        [
            (1, "unhappy cat"),      # un+happy (not u+n+h+...)
            (2, "happyhappy"),       # happy+happy
            (3, "cataract"),         # OOV word via cat+a+r+a+c+t
            (4, "q#t cat"),          # '#' unmatchable -> [UNK]
            (5, "zzz"),              # no vocab char at pos 1 -> [UNK]
        ],
        ["doc_id", "text"],
    )
    vocab = spark.createDataFrame(
        [("un",), ("happy",), ("happ",), ("cat",), ("a",), ("r",),
         ("c",), ("t",), ("q",), ("h",), ("y",), ("p",)],
        ["token"],
    )
    got = {
        r["doc_id"]: (list(r["pieces"]), r["n_pieces"], r["n_unk"])
        for r in maxmunch_encode(docs, vocab, max_piece_len=5).collect()
    }
    assert got[1] == (["un", "happy", "cat"], 3, 0)
    assert got[2] == (["happy", "happy"], 2, 0)
    assert got[3] == (["cat", "a", "r", "a", "c", "t"], 6, 0)
    assert got[4] == (["[UNK]", "cat"], 2, 1)
    assert got[5] == (["[UNK]"], 1, 1)

    # greedy is max-munch, not shortest-first: 'happt' takes 'happ'
    # then 't' (not 'h+a+p+p+t' and not backtracking to 'happ'+'t'
    # vs a hypothetical longer split)
    probe = spark.createDataFrame([(9, "happt")], ["doc_id", "text"])
    r = maxmunch_encode(probe, vocab, max_piece_len=5).collect()[0]
    assert list(r["pieces"]) == ["happ", "t"]


def test_maxmunch_unk_token_validation_and_count(spark):
    """ADVICE r10: unk_token is interpolated into a raw SQL expression
    — quotes/backslashes must be rejected, and n_unk must count FAILED
    words, not pieces textually equal to the unk string (a legitimate
    vocab piece may equal it)."""
    import pytest

    from parsedmarc_go_spark.operators.bpe import maxmunch_encode

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    vocab = spark.createDataFrame([("x",)], ["token"])
    for bad in ("it's", 'a"b', "a\\b"):
        with pytest.raises(ValueError, match="unk_token"):
            maxmunch_encode(docs, vocab, unk_token=bad)

    # a vocab that CONTAINS the unk string as a real piece: matching
    # it is not a failure, so n_unk stays 0 for doc 1 and counts only
    # the genuinely unmatchable word in doc 2
    docs2 = spark.createDataFrame(
        [(1, "[UNK] ok"), (2, "## ok")], ["doc_id", "text"]
    )
    vocab2 = spark.createDataFrame(
        [("[unk]",), ("ok",)], ["token"]  # text is lowercased upstream
    )
    got = {
        r["doc_id"]: (list(r["pieces"]), r["n_unk"])
        for r in maxmunch_encode(
            docs2, vocab2, max_piece_len=5, unk_token="[unk]"
        ).collect()
    }
    assert got[1] == (["[unk]", "ok"], 0)
    assert got[2] == (["[unk]", "ok"], 1)


def test_maxmunch_incomplete_probe_lengths_fail_the_encode(spark):
    """probe_lengths that miss the length of a vocab piece (here 3, for
    'cat') would make that piece unreachable; the encode fails instead
    of silently splitting 'cat' into shorter pieces. A list that covers
    every length encodes as without it."""
    from parsedmarc_go_spark.operators.bpe import maxmunch_encode

    docs = spark.createDataFrame([(1, "cat at")], ["doc_id", "text"])
    vocab = spark.createDataFrame([("cat",), ("at",), ("c",), ("a",), ("t",)], ["token"])
    with pytest.raises(Exception, match="probe_lengths .* miss the length of vocab piece cat"):
        maxmunch_encode(docs, vocab, max_piece_len=3, probe_lengths=[1, 2]).collect()
    got = maxmunch_encode(docs, vocab, max_piece_len=3, probe_lengths=[1, 2, 3]).collect()
    assert [list(r["pieces"]) for r in got] == [["cat", "at"]]
