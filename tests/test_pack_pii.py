"""PII redaction + sequence-packing operator tests (round 5).

redact_pii: Java/RE2-common regex subset, fixed pattern order, pure
column algebra.  pack_sequences: two-phase distributed prefix sum —
parity vs a driver-side cumsum, repartition stability, and the plan pin
that no global-order (SinglePartition) exchange ever appears.
"""

import sys

sys.path.insert(0, "/root/reference/src")

from dtaidistance_spark.operators.text import pack_sequences, redact_pii


PII_TEXTS = [
    (0, "reach me at alice.smith+work@mail.example.org thanks"),
    (1, "server 192.168.1.254 then 10.0.0.7 replied"),
    (2, "call 555-123-4567 or 555.987.6543 today"),
    (3, "ssn on file 123-45-6789 end"),
    (4, "plain text with no sensitive content at all"),
    (5, "bob@x.io pinged 8.8.8.8 from 555-000-1111 re 987-65-4321"),
    (6, ""),
]


class TestRedactPii:
    def test_counts_and_redaction(self, spark):
        docs = spark.createDataFrame(PII_TEXTS, "doc_id long, text string")
        got = redact_pii(docs).orderBy("doc_id").toPandas()
        assert got["n_email"].tolist() == [1, 0, 0, 0, 0, 1, 0]
        assert got["n_ipv4"].tolist() == [0, 2, 0, 0, 0, 1, 0]
        assert got["n_phone"].tolist() == [0, 0, 2, 0, 0, 1, 0]
        assert got["n_ssn"].tolist() == [0, 0, 0, 1, 0, 1, 0]
        assert got["n_pii"].tolist() == [1, 2, 2, 1, 0, 4, 0]
        clean = got["clean_text"].tolist()
        assert clean[0] == "reach me at <EMAIL> thanks"
        assert clean[1] == "server <IP> then <IP> replied"
        assert clean[2] == "call <PHONE> or <PHONE> today"
        assert clean[3] == "ssn on file <SSN> end"
        assert clean[4] == PII_TEXTS[4][1]
        assert clean[5] == "<EMAIL> pinged <IP> from <PHONE> re <SSN>"

    def test_idempotent(self, spark):
        docs = spark.createDataFrame(PII_TEXTS, "doc_id long, text string")
        once = redact_pii(docs).selectExpr("doc_id",
                                           "clean_text AS text")
        twice = redact_pii(once).orderBy("doc_id").toPandas()
        assert twice["n_pii"].tolist() == [0] * len(PII_TEXTS)
        first = redact_pii(docs).orderBy("doc_id").toPandas()
        assert twice["clean_text"].tolist() == first["clean_text"].tolist()

    def test_map_only_plan(self, spark):
        docs = spark.createDataFrame(PII_TEXTS, "doc_id long, text string")
        plan = redact_pii(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan  # pure projection, scan-speed


class TestPackSequences:
    @staticmethod
    def _docs(spark, n=97, seed_mod=7):
        # texts with known token counts: doc i has (i % seed_mod) + 1
        # tokens, ids deliberately sparse (i * 3) to exercise range
        # bucketing over a non-dense key
        rows = [(i * 3, " ".join(["w"] * ((i % seed_mod) + 1)))
                for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string"), rows

    def _brute(self, rows, seq_len):
        out, off = {}, 0
        for did, text in sorted(rows):
            n = len(text.split())
            out[did] = (n, off, off // seq_len, off % seq_len,
                        (off + n - 1) // seq_len)
            off += n
        return out

    def test_parity_vs_driver_cumsum(self, spark):
        docs, rows = self._docs(spark)
        for seq_len, n_buckets in [(16, 8), (5, 1), (64, 200)]:
            got = pack_sequences(docs, seq_len=seq_len,
                                 n_buckets=n_buckets) \
                .orderBy("doc_id").toPandas()
            want = self._brute(rows, seq_len)
            for r in got.itertuples(index=False):
                n, off, fp, oip, lp = want[r.doc_id]
                assert (r.n_tokens, r.global_offset, r.first_pack,
                        r.offset_in_pack, r.last_pack) == \
                    (n, off, fp, oip, lp), r
                assert r.n_chunks == lp - fp + 1

    def test_repartition_stable(self, spark):
        docs, _ = self._docs(spark, n=60)
        a = pack_sequences(docs, seq_len=8, n_buckets=4) \
            .orderBy("doc_id").toPandas()
        b = pack_sequences(docs.repartition(17), seq_len=8, n_buckets=4) \
            .orderBy("doc_id").toPandas()
        assert a.values.tolist() == b.values.tolist()

    def test_no_global_order_exchange(self, spark):
        """The scale pin: the cumsum window is partitioned by bucket —
        a SinglePartition exchange (what a global orderBy window emits)
        must never appear in the physical plan."""
        docs, _ = self._docs(spark)
        plan = pack_sequences(docs, seq_len=32, n_buckets=8) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert "hashpartitioning(_bkt" in plan

    def test_empty_corpus_keeps_schema(self, spark):
        docs = spark.createDataFrame([], "doc_id long, text string")
        out = pack_sequences(docs, seq_len=8, n_buckets=4)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "doc_id", "n_tokens", "global_offset", "first_pack",
            "offset_in_pack", "last_pack", "n_chunks"]


class TestPerplexityFilter:
    TEXTS = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the cat"),
        (2, "zebra quark flux"),          # mostly unseen under train
        (3, "single"),                    # no bigrams -> NULL scores
        (4, "the the the the"),
        (5, "on the mat sat the cat"),
    ]

    @staticmethod
    def _brute(texts, train_ids, k=0.5):
        from collections import Counter
        import math

        toks = {i: t.lower().split() for i, t in texts}
        c1, c2 = Counter(), Counter()
        for i in train_ids:
            c1.update(toks[i])
            c2.update(zip(toks[i], toks[i][1:]))
        V = len(set(w for i in train_ids for w in toks[i])) + 1
        out = {}
        for i, _ in texts:
            bgs = list(zip(toks[i], toks[i][1:]))
            if not bgs:
                out[i] = (0, None, None)
                continue
            s = sum(math.log((c2[b] + k) / (c1[b[0]] + k * V)) for b in bgs)
            out[i] = (len(bgs), round(s, 6),
                      round(math.exp(-s / len(bgs)), 6))
        return out

    def test_parity_vs_brute_force(self, spark):
        from dtaidistance_spark.operators.text import perplexity_filter

        docs = spark.createDataFrame(self.TEXTS, "doc_id long, text string")
        train_ids = [0, 1, 4]
        train = docs.where(f"doc_id in ({','.join(map(str, train_ids))})")
        got = perplexity_filter(docs, train).orderBy("doc_id").toPandas()
        want = self._brute(self.TEXTS, train_ids)
        for r in got.itertuples(index=False):
            n, lp, ppl = want[r.doc_id]
            assert r.n_bigrams == n
            if n == 0:
                assert r.log_prob != r.log_prob  # NaN/NULL
            else:
                assert abs(r.log_prob - lp) < 1e-6, (r.doc_id, r.log_prob, lp)
                assert abs(r.perplexity - ppl) < 1e-4

    def test_fluent_scores_below_salad(self, spark):
        """Docs drawn from the training distribution must score lower
        perplexity than unseen-vocab word salad."""
        from dtaidistance_spark.operators.text import perplexity_filter

        docs = spark.createDataFrame(self.TEXTS, "doc_id long, text string")
        train = docs.where("doc_id in (0, 1, 4, 5)")
        got = perplexity_filter(docs, train).toPandas() \
            .set_index("doc_id")["perplexity"]
        assert got[0] < got[2] and got[5] < got[2]


class TestBpe:
    CORPUS = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new"),
        (2, "low new low new wider wide"),
    ]

    @staticmethod
    def _ref_bpe(texts, n_merges):
        """Classic BPE learner (Sennrich et al. 2016): count pairs over
        word types, merge the most frequent (lexicographic tie-break),
        greedy left-to-right non-overlapping rewrite."""
        from collections import Counter

        words = Counter(w for _, t in texts for w in t.lower().split())
        vocab = {w: list(w) for w in words}
        merges = []
        for _ in range(n_merges):
            pairs = Counter()
            for w, f in words.items():
                s = vocab[w]
                for i in range(len(s) - 1):
                    pairs[(s[i], s[i + 1])] += f
            if not pairs or max(pairs.values()) < 2:
                break
            bc = max(pairs.values())
            a, b = sorted(p for p, c in pairs.items() if c == bc)[0]
            merges.append((a, b))
            for w in vocab:
                s, out, i = vocab[w], [], 0
                while i < len(s):
                    if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                vocab[w] = out
        return merges

    def test_pair_counts_match_brute(self, spark):
        from collections import Counter

        from dtaidistance_spark.operators.text import bpe_pair_counts

        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        got = {(r.left, r.right): r.cnt
               for r in bpe_pair_counts(docs).collect()}
        want = Counter()
        for _, t in self.CORPUS:
            for w in t.lower().split():
                for i in range(len(w) - 1):
                    want[(w[i], w[i + 1])] += 1
        assert got == dict(want)

    def test_merge_list_matches_reference_algorithm(self, spark):
        from dtaidistance_spark.operators.text import learn_bpe

        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        # checkpoint_every=2 also exercises the lineage-cut path
        got = learn_bpe(docs, n_merges=8, checkpoint_every=2)
        assert got == self._ref_bpe(self.CORPUS, 8)
        assert len(got) >= 5  # the fixture supports at least 5 merges


class TestBpeEncode:
    def test_encode_matches_reference_apply(self, spark):
        from dtaidistance_spark.operators.text import bpe_encode, learn_bpe

        corpus = TestBpe.CORPUS
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        merges = learn_bpe(docs, n_merges=6)
        got = bpe_encode(docs, merges).orderBy("doc_id").toPandas()

        def ref_apply(word):
            ranks = {tuple(m): i for i, m in enumerate(merges)}
            s = list(word)
            while True:
                cands = [(ranks[(s[i], s[i + 1])], i)
                         for i in range(len(s) - 1)
                         if (s[i], s[i + 1]) in ranks]
                if not cands:
                    return s
                r, _ = min(cands)
                a, b = merges[r]
                out, i = [], 0
                while i < len(s):
                    if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out

        for (doc_id, text), row in zip(corpus, got.itertuples(index=False)):
            want = [t for w in text.lower().split() for t in ref_apply(w)]
            assert list(row.bpe_tokens) == want, (doc_id, row.bpe_tokens)
            assert row.n_bpe_tokens == len(want)
            assert row.n_words == len(text.split())

    def test_roundtrip_and_compression(self, spark):
        """Concatenated BPE tokens reproduce each word exactly, and the
        learned merges strictly shrink the token stream."""
        from dtaidistance_spark.operators.text import bpe_encode, learn_bpe

        docs = spark.createDataFrame(TestBpe.CORPUS,
                                     "doc_id long, text string")
        merges = learn_bpe(docs, n_merges=8)
        got = bpe_encode(docs, merges).toPandas()
        for (_, text), toks in zip(TestBpe.CORPUS, got["bpe_tokens"]):
            assert "".join(toks) == "".join(text.lower().split())
        n_chars = sum(len(w) for _, t in TestBpe.CORPUS
                      for w in t.split())
        assert got["n_bpe_tokens"].sum() < n_chars


class TestTfidfTopk:
    def test_matches_brute_force(self, spark):
        import math
        from collections import Counter

        from dtaidistance_spark.operators.text import tfidf_topk

        texts = [
            (0, "apple banana apple cherry"),
            (1, "banana cherry cherry date"),
            (2, "apple apple apple egg"),
            (3, "fig fig grape egg date"),
        ]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        got = tfidf_topk(docs, k=2).orderBy("doc_id", "rank").toPandas()

        tf = {i: Counter(t.split()) for i, t in texts}
        df = Counter(w for c in tf.values() for w in c)
        n = len(texts)
        want = {}
        for i, c in tf.items():
            scored = sorted(
                ((round(f * (math.log((n + 1) / (df[w] + 1)) + 1), 6), w)
                 for w, f in c.items()),
                key=lambda t: (-t[0], t[1]))
            want[i] = scored[:2]
        for r in got.itertuples(index=False):
            s, w = want[r.doc_id][r.rank - 1]
            assert (r.term, round(r.tfidf, 6)) == (w, s), r


class TestReviewFixes:
    """Regression pins for the r5 self-review findings."""

    def test_pack_sequences_duplicate_order_key(self, spark):
        # duplicate order values: the ROWS frame + doc_id tiebreak must
        # still assign disjoint token ranges covering the whole stream
        rows = [(i, i // 3, " ".join(["w"] * (1 + i % 4)))
                for i in range(30)]  # ord repeats 3x
        docs = spark.createDataFrame(rows, "doc_id long, ord long, text string")
        got = pack_sequences(docs, seq_len=7, n_buckets=4,
                             order_col="ord").orderBy("doc_id").toPandas()
        spans = sorted((r.global_offset, r.global_offset + r.n_tokens)
                       for r in got.itertuples(index=False))
        pos = 0
        for a, b in spans:
            assert a == pos, spans  # disjoint AND gap-free
            pos = b
        assert pos == sum(1 + i % 4 for i in range(30))

    def test_pathdiff_degenerate_segment_no_crash(self):
        import numpy as np

        from dtaidistance_spark.kernels.explain import _max_change_in_path

        sf = np.arange(6, dtype=np.float64)
        st = np.arange(6, dtype=np.float64) * 2
        # purely vertical run: from-coordinate constant across segment
        pts = np.array([[2, 0], [2, 1], [2, 2], [2, 3]])
        diff, idx = _max_change_in_path(sf, st, pts, 0, 3)
        assert np.isfinite(diff) and 0 <= idx <= 3
        # purely horizontal run
        pts = np.array([[0, 2], [1, 2], [2, 2], [3, 2]])
        diff, idx = _max_change_in_path(sf, st, pts, 0, 3)
        assert np.isfinite(diff) and 0 <= idx <= 3

    def test_rdp_two_point_vertical_no_crash(self):
        import numpy as np

        from dtaidistance_spark.kernels.explain import rdp_epsilon

        pts, kept = rdp_epsilon(np.array([[0, 0], [0, 3]]), epsilon=100.0)
        assert kept == [0, 1] and pts.shape == (2, 2)

    def test_decode_features_corrupt_payload_fake_fallback(self, spark):
        """A payload the native codecs do not decode — a sniffable but
        corrupt PNG, or a format without a decoder (JPEG, GIF, BMP, an
        ADPCM WAVE, an MJPEG AVI) — gets the hash stub with fake=True
        and raises with fake=False."""
        import struct

        import numpy as np
        import pytest as _pytest

        from dtaidistance_spark.kernels.media import encode_avi
        from dtaidistance_spark.operators.multimodal import (_fake_decode,
                                                             decode_features)

        mjpeg = bytearray(encode_avi([np.zeros((2, 2, 3), np.uint8)]))
        comp = mjpeg.index(b"strf") + 8 + 16  # strf biCompression
        mjpeg[comp:comp + 4] = b"MJPG"
        mjpeg = bytes(mjpeg).replace(b"DIB ", b"MJPG").replace(b"00db",
                                                                 b"00dc")
        adpcm_fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4055, 256, 4,
                                2, 505)
        payloads = {
            # valid PNG magic, garbage body: sniffable but undecodable
            "png": b"\x89PNG\r\n\x1a\n" + b"\x00" * 32,
            "jpeg": b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\xff\xd9",
            "gif": b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0) + b";",
            "bmp": (b"BM" + struct.pack("<IHHI", 58, 0, 0, 54)
                    + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4,
                                  0, 0, 0, 0) + b"\x00" * 4),
            "adpcm": (b"RIFF" + struct.pack("<I", 44) + b"WAVE"
                      + b"fmt " + struct.pack("<I", 20) + adpcm_fmt
                      + b"data" + struct.pack("<I", 4) + b"\x00" * 4),
            "mjpeg": mjpeg,
        }
        for name, bad in payloads.items():
            media = spark.createDataFrame(
                [(0, "image", bytearray(bad), 4, 4, 0, 0.0, 0)],
                "media_id long, kind string, payload binary, width int, "
                "height int, sample_rate int, duration_s double, "
                "n_frames int")
            out = decode_features(media, n_features=4, fake=True).collect()
            assert len(out) == 1, name
            assert out[0]["features"] == _fake_decode(bad, 4).tolist(), name
            with _pytest.raises(Exception):
                decode_features(media, n_features=4, fake=False).collect()


class TestQualityClassifier:
    def test_matches_numpy_gd_and_learns(self, spark):
        import numpy as np

        from dtaidistance_spark.operators.text import (
            _quality_features, train_quality_classifier)
        from pyspark.sql import functions as F

        texts = []
        # class 1: prose-like (stopwords, few punct); class 0: noisy
        for i in range(40):
            texts.append((i, "the quick fox and the lazy dog of town "
                          + "word" + str(i), "en"))
        for i in range(40, 80):
            texts.append((i, "!!! ??? ;;; ,,, (((" + "x" * (i % 7) + ")))",
                          "xx"))
        docs = spark.createDataFrame(texts, "doc_id long, text string, "
                                     "lang string")
        w, scored = train_quality_classifier(
            docs, F.col("lang") == "en", n_iter=3, lr=1.0)

        # numpy replay of the same full-batch GD over the same features
        fx = _quality_features(docs).join(
            docs.select("doc_id", F.when(F.col("lang") == "en", 1.0)
                        .otherwise(0.0).alias("y")), "doc_id") \
            .orderBy("doc_id").toPandas()
        X = np.column_stack([np.ones(len(fx)),
                             fx[["punct_ratio", "stop_ratio",
                                 "mean_word_len", "log_len"]].values])
        y = fx["y"].values
        wv = np.zeros(5)
        for _ in range(3):
            s = 1.0 / (1.0 + np.exp(-(X @ wv)))
            wv = wv - 1.0 * (X.T @ (s - y)) / len(y)
        assert np.allclose(w, wv, atol=1e-9), (w, wv)

        # the classifier separates the two classes after 3 steps
        out = scored.toPandas().set_index("doc_id")
        pos = out[out["y"] == 1]["score"].mean()
        neg = out[out["y"] == 0]["score"].mean()
        # after only 3 full-batch steps the magnitudes are small but
        # the ordering must already separate the classes decisively
        assert pos > 2 * neg, (pos, neg)
