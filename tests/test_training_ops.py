"""Unit tests for the text operators (dedup, textops, sampling, search)
on tiny hand-checked inputs.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from opentopodata_spark.operators import dedup, sampling, textops


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "entirely different words without overlap whatsoever"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "a of to in !! ??"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

class TestDedup:
    def test_word_shingles(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        got = {
            r.shingle for r in dedup.word_shingles(df).collect()
        }
        assert got == {"a b", "b c"}

    def test_word_shingles_single_token(self, spark):
        df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
        got = [r.shingle for r in dedup.word_shingles(df).collect()]
        assert got == ["solo"]

    def test_exact_duplicates(self, docs):
        rows = {r.text_hash: r for r in dedup.exact_duplicates(docs).collect()}
        dup_hash = md5("the quick brown fox jumps over the lazy dog")
        assert rows[dup_hash].n_docs == 2
        assert rows[dup_hash].canonical_id == 1
        assert sum(r.n_docs for r in rows.values()) == 5

    def test_minhash_identical_docs_equal_signatures(self, docs):
        sigs = {r.doc_id: r for r in dedup.minhash_signatures(docs).collect()}
        assert [sigs[1][f"h{i}"] for i in range(8)] == [
            sigs[4][f"h{i}"] for i in range(8)
        ]
        # golden: h0 = min over shingles of md5(shingle + '#0')
        sh = set()
        toks = "the quick brown fox jumps over the lazy dog".split()
        for i in range(len(toks) - 1):
            sh.add(f"{toks[i]} {toks[i+1]}")
        assert sigs[1]["h0"] == min(md5(s + "#0") for s in sh)

    def test_lsh_pairs_find_exact_dups(self, docs):
        sigs = dedup.minhash_signatures(docs)
        pairs = {
            (r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(sigs).collect()
        }
        assert (1, 4) in pairs

    def test_jaccard_golden(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
        )
        # shingles: {ab,bc,cd} vs {ab,bc,ce}: inter=2, union=4 -> 0.5
        rows = dedup.jaccard_pairs(df, threshold=0.1).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.doc_a, r.doc_b, r.inter, r.size_a, r.size_b) == (1, 2, 2, 3, 3)
        assert r.jaccard == 0.5

    def test_verified_near_duplicates_matches_exact_on_candidates(self, docs):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.verified_near_duplicates(docs, threshold=0.2).collect()
        }
        assert got[(1, 4)] == 1.0
        assert (1, 2) in got  # near-dup pair survives verification
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.jaccard_pairs(docs, threshold=0.2).collect()
        }
        for pair, j in got.items():
            assert exact[pair] == j

    def test_dedup_clusters_and_corpus(self, docs):
        """End-to-end: verified pairs -> clusters -> keep-one corpus.
        Docs 1, 2, 4 form one near-dup cluster (rep 1); 3 and 5 are
        singletons."""
        pairs = dedup.verified_near_duplicates(docs, threshold=0.2)
        cl = {
            r.doc_id: r.cluster_id
            for r in dedup.dedup_clusters(docs, pairs).collect()
        }
        assert cl == {1: 1, 2: 1, 3: 3, 4: 1, 5: 5}
        kept = dedup.dedup_corpus(docs, pairs)
        assert kept.columns == docs.columns
        assert {r.doc_id for r in kept.collect()} == {1, 3, 5}

    def test_simhash_identical_docs_equal(self, docs):
        sims = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
        assert sims[1] == sims[4]
        assert 0 <= sims[1] < 2**16
        # similar docs (1,2) hamming-closer than dissimilar (1,3)
        def ham(a, b):
            return bin(a ^ b).count("1")

        assert ham(sims[1], sims[2]) < ham(sims[1], sims[3])


# ---------------------------------------------------------------------------
# textops
# ---------------------------------------------------------------------------

class TestTextops:
    def test_token_stats(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world, 42 times!")], "doc_id long, text string"
        )
        r = textops.token_stats(df).collect()[0]
        assert r.n_chars == 22
        assert r.n_ws_tokens == 4
        # BPE-ish: hello | world | , | 42 | times | !
        assert r.n_bpe_tokens == 6
        # token lengths 5+6+2+6=19, /4
        assert r.avg_token_len == round(19 / 4, 6)

    def test_quality_score_bounds(self, docs):
        rows = textops.quality_score(docs).collect()
        for r in rows:
            assert 0.0 <= r.score <= 1.0
        scores = {r.doc_id: r.score for r in rows}
        # natural sentence beats punctuation soup
        assert scores[1] > scores[5]

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat is on the mat"),
                (2, "der hund und die katze"),
                (3, "le chat et la souris"),
                (4, "xyzzy plugh"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.pred_lang for r in textops.lang_id(df).collect()}
        assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}

    def test_fingerprint(self, spark):
        text = "abcdefghij"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = textops.fingerprint(df, k=8).collect()[0]
        grams = [text[i : i + 8] for i in range(len(text) - 7)]
        assert r.fp == min(md5(g) for g in grams)
        assert r.n_grams == 3
        # identical text -> identical fingerprint (dedup property)
        df2 = spark.createDataFrame([(2, text)], "doc_id long, text string")
        assert textops.fingerprint(df2, k=8).collect()[0].fp == r.fp

    def test_repetition_stats_hand_checked(self, spark):
        df = spark.createDataFrame(
            [(1, "a a a b"), (2, "x"), (3, "")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in textops.repetition_stats(df).collect()}
        r1 = rows[1]  # bigrams: "a a","a a","a b"; trigrams: "a a a","a a b"
        assert r1.n_bigrams == 3
        assert r1.top_bigram_frac == round(2 / 3, 6)
        assert r1.dup_bigram_frac == round(1 / 3, 6)
        assert r1.n_trigrams == 2
        assert r1.top_trigram_frac == 0.5
        assert r1.dup_trigram_frac == 0.0
        for did in (2, 3):  # fewer tokens than any gram: all-zero profile
            r = rows[did]
            assert (r.n_bigrams, r.n_trigrams) == (0, 0)
            assert r.top_bigram_frac == 0.0 and r.dup_trigram_frac == 0.0

    def test_repetition_stats_uniform_doc(self, spark):
        df = spark.createDataFrame([(1, "w w w w w")], "doc_id long, text string")
        r = textops.repetition_stats(df).collect()[0]
        assert r.n_bigrams == 4 and r.top_bigram_frac == 1.0
        assert r.dup_bigram_frac == 0.75  # 4 occurrences, 1 distinct

    def test_repetition_stats_is_narrow(self, spark):
        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        plan = textops.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # one projection, no shuffle

    def test_repeated_ngrams(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b d"), (3, "a b c")],
            "doc_id long, text string",
        )
        got = {r.gram: (r.n_docs, r.n_occ)
               for r in dedup.repeated_ngrams(df, n=2, min_count=2).collect()}
        assert got == {"a b": (3, 3), "b c": (2, 2)}

    def test_repeated_ngrams_counts_multiplicity(self, spark):
        # a span repeated WITHIN one doc still counts (n_occ=2, n_docs=1)
        df = spark.createDataFrame([(1, "x y x y")], "doc_id long, text string")
        got = {r.gram: (r.n_docs, r.n_occ)
               for r in dedup.repeated_ngrams(df, n=2, min_count=2).collect()}
        assert got == {"x y": (1, 2)}


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------

class TestSampling:
    def _docs(self, spark, n=400):
        rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, lang string")

    def test_thresholds(self):
        from opentopodata_spark.operators import sampling

        assert sampling.rate_threshold(0.25) == "400000"
        assert sampling.rate_threshold(1.0) == "g"
        assert sampling.rate_threshold(0.0) == "000000"

    def test_rates_and_audit(self, spark):
        from opentopodata_spark.operators import sampling

        df = self._docs(spark)
        out = sampling.stratified_sample(
            df, {"en": 1.0, "de": 0.0}, strata_col="lang", seed="t", default_rate=0.5
        ).collect()
        by_lang: dict = {}
        for r in out:
            by_lang.setdefault(r.lang, []).append(r)
            # audit: every kept row's key really is md5-derived and below thr
            assert r.sample_key == md5(f"t#{r.doc_id}")[:6]
        assert len(by_lang["en"]) == 134  # rate 1.0 keeps every en row
        assert "de" not in by_lang  # rate 0.0 keeps none
        n_fr = len(by_lang.get("fr", []))
        assert 40 <= n_fr <= 93  # ~Binomial(133, 0.5), +/- 6 sigma

    def test_sampler_is_scan_plus_filter(self, spark, tmp_path):
        """One codegen'd predicate over the scan: no shuffle, no join, no
        UDF — the shape that stays a single pass at 10^12 rows."""
        from opentopodata_spark.operators import sampling

        p = str(tmp_path / "docs.parquet")
        self._docs(spark, 100).write.parquet(p)
        out = sampling.stratified_sample(
            spark.read.parquet(p), {"en": 0.5}, default_rate=0.25
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan  # no UDF in the predicate

    def test_deterministic_and_partition_invariant(self, spark):
        from opentopodata_spark.operators import sampling

        df = self._docs(spark, 300)
        kept1 = {r.doc_id for r in sampling.stratified_sample(
            df, {"en": 0.3}, seed="z", default_rate=0.7).collect()}
        kept2 = {r.doc_id for r in sampling.stratified_sample(
            df.repartition(13), {"en": 0.3}, seed="z", default_rate=0.7).collect()}
        assert kept1 == kept2 and kept1  # content-keyed: layout-independent

# ---------------------------------------------------------------------------
# search (BM25)
# ---------------------------------------------------------------------------

class TestSearch:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (1, "spark window agg spark spark"),
            (2, "window agg join"),
            (3, "customer query join join join"),
            (4, "unrelated words only here"),
            (5, ""),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _bm25_ref(self, docs, qterms, k1=1.2, b=0.75):
        """Single-process BM25 reference."""
        toks = {d: t.split() if t else [] for d, t in docs}
        n = len(toks)
        avgdl = sum(len(t) for t in toks.values()) / n
        out = {}
        for d, t in toks.items():
            s = 0.0
            for q in qterms:
                tf = t.count(q)
                if tf == 0:
                    continue
                df = sum(1 for t2 in toks.values() if q in t2)
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            if s > 0:
                out[d] = round(s, 6)
        return out

    def test_bm25_matches_reference(self, spark, corpus):
        from opentopodata_spark.operators import search

        queries = spark.createDataFrame(
            [(1, "spark window"), (2, "join")], "query_id long, query string"
        )
        got = search.bm25_topk(corpus, queries, k=10).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, {})[r.doc_id] = r.score
        docs = [(r.doc_id, r.text) for r in corpus.collect()]
        assert by_q[1] == self._bm25_ref(docs, ["spark", "window"])
        assert by_q[2] == self._bm25_ref(docs, ["join"])
        # ranks: dense 1..n per query, ordered by (score desc, doc_id asc)
        for q in (1, 2):
            rows = sorted(
                [r for r in got if r.query_id == q], key=lambda r: r.rank
            )
            assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
            assert rows == sorted(rows, key=lambda r: (-r.score, r.doc_id))

    def test_bm25_topk_truncates_and_dedups_query_terms(self, spark, corpus):
        from opentopodata_spark.operators import search

        # repeated query term must not double-count; k=1 keeps only the top hit
        q1 = spark.createDataFrame([(9, "join join")], "query_id long, query string")
        q2 = spark.createDataFrame([(9, "join")], "query_id long, query string")
        a = search.bm25_topk(corpus, q1, k=1).collect()
        b = search.bm25_topk(corpus, q2, k=1).collect()
        assert len(a) == len(b) == 1
        assert (a[0].doc_id, a[0].score) == (b[0].doc_id, b[0].score) == (3, a[0].score)

    def test_bm25_no_match_and_empty_query(self, spark, corpus):
        from opentopodata_spark.operators import search

        queries = spark.createDataFrame(
            [(1, "zzz absent"), (2, "")], "query_id long, query string"
        )
        assert search.bm25_topk(corpus, queries).collect() == []

    def test_bm25_exactly_two_corpus_scans(self, spark, corpus, tmp_path):
        """Plan-shape regression: BM25 must scan the corpus exactly twice
        (pruned postings + avgdl stats) — the df(t) window must NOT make
        the posting subtree a second consumer (the groupBy+join form
        re-scanned and re-aggregated the whole corpus)."""
        from opentopodata_spark.operators import search

        p = str(tmp_path / "corpus.parquet")
        corpus.write.parquet(p)
        docs = spark.read.parquet(p)
        q = spark.createDataFrame([(1, "join")], "query_id long, query string")
        plan = (
            search.bm25_topk(docs, q)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("FileScan parquet") == 2


class TestScrub:
    def test_scrub_pii(self, spark):
        rows = [
            (1, "mail bob.smith+x@ex-ample.co.uk or call +1 (555) 000-1234 now"),
            (2, "server at 10.0.255.7 and 192.168.1.1, port 8080"),
            (3, "clean text with number 42 and year 2026"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in textops.scrub_pii(df).collect()}
        assert got[1].n_email == 1 and got[1].n_phone == 1
        assert "<EMAIL>" in got[1].clean and "<PHONE>" in got[1].clean
        assert "bob" not in got[1].clean and "555" not in got[1].clean
        assert got[2].n_ipv4 == 2 and "<IPV4>" in got[2].clean
        assert "8080" in got[2].clean  # a bare port is not PII
        assert got[3].clean == rows[2][1]  # untouched
        assert (got[3].n_email, got[3].n_ipv4, got[3].n_phone) == (0, 0, 0)

    def test_normalize_text(self, spark):
        df = spark.createDataFrame(
            [(1, "  Hello\tWORLD   and\x01more  ")], "doc_id long, text string"
        )
        r = textops.normalize_text(df).collect()[0]
        assert r.norm == "hello world and more"


class TestCorpusStats:
    def test_corpus_stats_hand_checked(self, spark):
        rows = [(1, "a b c", "en"), (2, "a b c d e", "en"),
                (3, "a", "en"), (4, "x y", "de")]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {r.lang: r for r in textops.corpus_stats(df).collect()}
        en = got["en"]
        # token counts 1, 3, 5: p50 = 3; p95 = 3 + 0.9*(5-3) = 4.8
        assert (en.n_docs, en.total_tokens) == (3, 9)
        assert en.mean_tokens == 3.0
        assert en.p50_tokens == 3.0
        assert en.p95_tokens == 4.8
        assert got["de"].p50_tokens == 2.0

    def test_corpus_stats_ungrouped(self, spark):
        df = spark.createDataFrame(
            [(1, "a b", "en"), (2, "c", "de")], "doc_id long, text string, lang string"
        )
        r = textops.corpus_stats(df, by=None).collect()[0]
        assert (r.n_docs, r.total_tokens, r.p50_tokens) == (2, 3, 1.5)


class TestSpanRemoval:
    def test_remove_repeated_spans_hand_checked(self, spark):
        docs = spark.createDataFrame(
            [(1, "x y a b c z w"),     # one flagged trigram in the middle
             (2, "a b c a b c tail"),  # two overlapping-ish occurrences
             (3, "clean words only here"),
             (4, "a b")],              # short doc: partial gram flagged
            "doc_id long, text string",
        )
        removal = spark.createDataFrame([("a b c",), ("a b",)], "gram string")
        got = {
            r.doc_id: (r.clean, r.n_spans_removed)
            for r in dedup.remove_repeated_spans(docs, removal, n=3).collect()
        }
        assert got[1] == ("x y z w", 1)
        # starts 0 and 3 cover tokens 0..5; 'tail' survives
        assert got[2] == ("tail", 2)
        assert got[3] == ("clean words only here", 0)
        # 2-token doc: its whole-text partial gram 'a b' is flagged
        assert got[4] == ("", 1)

    def test_remove_repeated_spans_all_partial_grams(self, spark):
        """A removal list whose every flagged gram is a short-doc
        partial (width < n) is legal — it must apply, not raise (the
        guard only rejects wider-than-n grams)."""
        docs = spark.createDataFrame(
            [(i, "a b") for i in range(4)] + [(9, "u v w x y z")],
            "doc_id long, text string",
        )
        removal = dedup.repeated_ngrams(docs, n=5, min_count=2)
        assert [r.gram for r in removal.collect()] == ["a b"]
        got = {
            r.doc_id: r.clean
            for r in dedup.remove_repeated_spans(docs, removal, n=5).collect()
        }
        assert got == {0: "", 1: "", 2: "", 3: "", 9: "u v w x y z"}

    def test_remove_repeated_spans_rejects_too_wide_grams(self, spark):
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        removal = spark.createDataFrame([("p q r s",)], "gram string")
        import pytest as _pt
        with _pt.raises(ValueError, match="gram width"):
            dedup.remove_repeated_spans(docs, removal, n=3)

    def test_remove_repeated_spans_end_to_end_with_repeated_ngrams(self, spark):
        """The full ExactSubstr loop: flag corpus-repeated trigrams, then
        strip every occurrence — the repeated span vanishes from BOTH
        docs, the distinct tails survive."""
        docs = spark.createDataFrame(
            [(1, "p q r s t u one"), (2, "p q r s t u two")],
            "doc_id long, text string",
        )
        removal = dedup.repeated_ngrams(docs, n=3, min_count=2)
        got = {
            r.doc_id: r.clean
            for r in dedup.remove_repeated_spans(docs, removal, n=3).collect()
        }
        assert got == {1: "one", 2: "two"}


class TestChunking:
    def test_chunk_documents_non_overlapping(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "x"), (3, "")],
            "doc_id long, text string",
        )
        got = sorted(
            (r.doc_id, r.chunk_idx, r.chunk, r.n_tokens)
            for r in textops.chunk_documents(df, chunk_tokens=3).collect()
        )
        assert got == [
            (1, 0, "a b c", 3), (1, 1, "d e f", 3), (1, 2, "g", 1),
            (2, 0, "x", 1),
        ]  # empty doc 3 yields no chunks

    def test_chunk_documents_overlapping_stride(self, spark):
        df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
        got = sorted(
            (r.chunk_idx, r.chunk, r.n_tokens)
            for r in textops.chunk_documents(
                df, chunk_tokens=3, stride=2
            ).collect()
        )
        assert got == [(0, "a b c", 3), (1, "c d e", 3), (2, "e", 1)]

    def test_chunk_documents_validates(self, spark):
        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        import pytest as _pt
        with _pt.raises(ValueError):
            textops.chunk_documents(df, chunk_tokens=0)


class TestHtmlToText:
    SAMPLES = [
        "<html><head><title>T</title><style>p{}</style></head><body>"
        "<h1>Head &amp; tail</h1><script>if(a<b){x()}</script><p>one  two"
        "</p><div> three </div><ul><li>item&nbsp;1</li><li>i2</li></ul>"
        "</body></html>",
        "plain text, no tags at all",
        "<p>a&lt;b &amp;&amp; c&gt;d &quot;q&quot; &#39;s&#39; &amp;lt;</p>",
        "<!-- c --><br><br/><BR >x<svg width=3><circle/></svg>y",
        "<div class='a'>first</div>\n\n<div>second</div>",
        "",
        "<script>only script</script>",
        "<td>cell</td><TABLE border=1><tr><td>a</td></tr></table>tail",
    ]

    def test_goldens(self, spark):
        df = spark.createDataFrame(
            list(enumerate(self.SAMPLES)), "doc_id long, html string"
        )
        got = {r.doc_id: r for r in textops.html_to_text(df).collect()}
        assert got[0].text == "Head & tail\none two\nthree\nitem 1\ni2"
        assert got[0].n_lines == 5
        assert got[1].text == self.SAMPLES[1]  # plain text untouched
        # &amp;lt; decodes ONCE (to &lt;), never double-decodes to <
        assert got[2].text == "a<b && c>d \"q\" 's' &lt;"
        assert got[3].text == "x y"
        assert got[4].text == "first\nsecond"
        assert got[5].text == "" and got[5].n_lines == 0
        assert got[6].text == "" and got[6].n_chars == 0
        assert got[7].text == "cell\na\ntail"

    def test_duckdb_chain_parity(self, spark):
        """html_text_sql builds the oracle from the SAME step table —
        outputs must be byte-identical across Spark and DuckDB on the
        adversarial corpus."""
        import duckdb

        df = spark.createDataFrame(
            list(enumerate(self.SAMPLES)), "doc_id long, html string"
        )
        got = {r.doc_id: r.text for r in textops.html_to_text(df).collect()}
        con = duckdb.connect()
        con.execute("CREATE TABLE t(doc_id BIGINT, html VARCHAR)")
        con.executemany(
            "INSERT INTO t VALUES (?, ?)", list(enumerate(self.SAMPLES))
        )
        frag = textops.html_text_sql("html")
        for doc_id, otext in con.sql(
            f"SELECT doc_id, {frag} AS text FROM t"
        ).fetchall():
            assert got[doc_id] == otext, doc_id

    def test_min_line_chars(self, spark):
        df = spark.createDataFrame(
            [(1, "<p>a real sentence here</p><li>nav</li><li>ok</li>"
                 "<p>another long line of text</p>")],
            "doc_id long, html string",
        )
        r = textops.html_to_text(df, min_line_chars=10).collect()[0]
        assert r.text == "a real sentence here\nanother long line of text"
        assert r.n_lines == 2

    def test_idempotent_on_extracted(self, spark):
        """Running the extractor on its own output is a no-op for text
        with no residual markup syntax. Sample 2 is excluded: its OUTPUT
        legitimately contains '<' and '&lt;' from decoded entities, which
        a second pass re-parses as markup — single-pass extraction is the
        contract, and this pins exactly that asymmetry."""
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.SAMPLES) if i != 2],
            "doc_id long, html string",
        )
        once = textops.html_to_text(df)
        twice = textops.html_to_text(
            once.select("doc_id", F.col("text").alias("html"))
        )
        a = {r.doc_id: r.text for r in once.collect()}
        b = {r.doc_id: r.text for r in twice.collect()}
        assert a == b


class TestTemperatureMixture:
    def test_mixture_rates_properties(self):
        # alpha=1 -> natural mixture, nothing dropped
        assert sampling.mixture_rates({"a": 10, "b": 990}, alpha=1.0) == {
            "a": 1.0, "b": 1.0}
        # alpha=0 -> equal EXPECTED kept weight per stratum
        r = sampling.mixture_rates({"a": 100, "b": 900, "c": 400}, alpha=0.0)
        kept = {k: n * r[k] for k, n in {"a": 100, "b": 900, "c": 400}.items()}
        assert r["a"] == 1.0
        assert abs(kept["b"] - 100) < 1e-9 and abs(kept["c"] - 100) < 1e-9
        # interpolation: 0 < alpha < 1 sits between the two
        r5 = sampling.mixture_rates({"a": 100, "b": 900}, alpha=0.5)
        assert 0.111 < r5["b"] < 1.0 and r5["a"] == 1.0
        # zero-count strata get rate 0, never divide-by-zero
        assert sampling.mixture_rates({"a": 0, "b": 5}, alpha=0.0)["a"] == 0.0

    def test_mixture_rates_budget_waterfill(self):
        n = {"a": 100, "b": 900}
        r = sampling.mixture_rates(n, alpha=0.0, token_budget=300)
        # equal shares would be 150/150 but a can only supply 100: clip a
        # to 1.0 and give the leftover 200 to b
        assert r["a"] == 1.0 and abs(900 * r["b"] - 200) < 1e-9
        assert abs(sum(n[k] * r[k] for k in n) - 300) < 1e-9
        # budget >= total keeps everything
        assert sampling.mixture_rates(n, alpha=0.0, token_budget=10_000) == {
            "a": 1.0, "b": 1.0}
        # natural mixture under budget: proportional cut
        r1 = sampling.mixture_rates(n, alpha=1.0, token_budget=500)
        assert abs(r1["a"] - 0.5) < 1e-9 and abs(r1["b"] - 0.5) < 1e-9

    def test_temperature_mixture_e2e(self, spark):
        rows = [(i, "big" if i % 10 else "small", 10) for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, n long")
        out, rates = sampling.temperature_mixture(
            df, strata_col="lang", alpha=0.0, weight_col="n", seed="t1"
        )
        assert rates["small"] == 1.0
        got = out.groupBy("lang").count().collect()
        counts = {r.lang: r["count"] for r in got}
        assert counts["small"] == 200                      # all kept
        assert 120 < counts.get("big", 0) < 280            # ~200 expected
        # determinism: second run selects the identical set
        out2, _ = sampling.temperature_mixture(
            df, strata_col="lang", alpha=0.0, weight_col="n", seed="t1"
        )
        assert {r.doc_id for r in out.collect()} == {
            r.doc_id for r in out2.collect()}
        # auditability: every kept key is below its stratum threshold
        thr = sampling.rate_threshold(rates["big"])
        for r in out.where(F.col("lang") == "big").collect():
            assert r.sample_key < thr


class TestStratifiedTake:
    def test_exact_k_deterministic_and_auditable(self, spark):
        rows = [(i, "en" if i % 3 else "de") for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        got = sampling.stratified_take(df, k=7, seed="t")
        by = {}
        for r in got.collect():
            by.setdefault(r.lang, []).append(r)
        assert {k: len(v) for k, v in by.items()} == {"en": 7, "de": 7}
        # deterministic: same selection on a different layout
        got2 = sampling.stratified_take(df.repartition(13), k=7, seed="t")
        assert {r.doc_id for r in got.collect()} == {
            r.doc_id for r in got2.collect()}
        # the selection is the k smallest sample keys per stratum
        import hashlib

        for lang in ("en", "de"):
            ids = [i for i, lg in rows if lg == lang]
            keyed = sorted(
                (hashlib.md5(f"t#{i}".encode()).hexdigest()[:6], i)
                for i in ids
            )
            assert {r.doc_id for r in by[lang]} == {i for _, i in keyed[:7]}

    def test_prefilter_prefix_preserves_selection(self, spark):
        rows = [(i, "x") for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        full = {r.doc_id for r in
                sampling.stratified_take(df, k=5, seed="p").collect()}
        pre = {r.doc_id for r in sampling.stratified_take(
            df, k=5, seed="p", prefilter_rate=0.05).collect()}
        assert pre == full

    def test_small_stratum_returns_all(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, "a")],
                                   "doc_id long, lang string")
        assert sampling.stratified_take(df, k=10).count() == 2
