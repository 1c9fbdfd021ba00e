"""Function-level tests: hash sketches, text analysis, updater quoting
through a live Spark plan.
"""

import pytest
from pyspark.sql import functions as F

from redisgraph_bulk_loader_spark.functions.hashing import (
    char_shingles,
    hamming64,
    jaccard,
    simhash_df,
    word_shingles,
)
from redisgraph_bulk_loader_spark.functions.text import (
    bpe_ish_token_count,
    language_id,
    quality_score,
    token_count,
)
from redisgraph_bulk_loader_spark.plans.updater import quote_col
from redisgraph_bulk_loader_spark.streaming import incremental_graph_update


class TestShingles:
    def test_word_shingles(self, spark):
        df = spark.createDataFrame([("a b c d",)], "t string")
        got = df.select(word_shingles(F.col("t"), 2).alias("s")).collect()[0].s
        assert got == ["a b", "b c", "c d"]

    def test_char_shingles_distinct(self, spark):
        df = spark.createDataFrame([("aaaa",)], "t string")
        got = df.select(char_shingles(F.col("t"), 3).alias("s")).collect()[0].s
        assert sorted(got) == [" aa", "aa ", "aaa"]

    def test_jaccard(self, spark):
        df = spark.createDataFrame([(["a", "b"], ["b", "c"])], "x array<string>, y array<string>")
        got = df.select(jaccard(F.col("x"), F.col("y")).alias("j")).collect()[0].j
        assert abs(got - 1 / 3) < 1e-12


class TestSimhash:
    def test_matches_pure_python(self, spark):
        """Distributed simhash == independent per-row computation using
        the same xxhash64 bit votes (computed via Spark for hash parity,
        then folded in Python)."""
        rows = [(1, ["alpha", "beta", "gamma"]), (2, ["alpha", "beta"])]
        df = spark.createDataFrame(rows, "id long, toks array<string>")
        got = {r.id: r.simhash for r in simhash_df(df, ["id"], "toks").collect()}

        tok_hashes = {
            r.t: r.h
            for r in spark.createDataFrame(
                [(t,) for t in {"alpha", "beta", "gamma"}], "t string"
            ).select("t", F.xxhash64("t").alias("h")).collect()
        }

        def simhash(tokens):
            out = 0
            for bit in range(64):
                vote = sum(
                    1 if (tok_hashes[t] >> bit) & 1 else -1 for t in tokens
                )
                if vote > 0:
                    out |= 1 << bit
            # interpret as signed 64-bit
            return out - (1 << 64) if out >= (1 << 63) else out

        assert got[1] == simhash(["alpha", "beta", "gamma"])
        assert got[2] == simhash(["alpha", "beta"])

    def test_hamming(self, spark):
        df = spark.createDataFrame([(0b1011, 0b0011)], "a long, b long")
        assert df.select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0].h == 1


class TestTextFunctions:
    def test_token_count(self, spark):
        df = spark.createDataFrame(
            [("a b  c",), ("",), ("   ",), ("one",)], "t string"
        )
        got = [r.n for r in df.select(token_count(F.col("t")).alias("n")).collect()]
        assert got == [3, 0, 0, 1]

    def test_bpe_ish(self, spark):
        df = spark.createDataFrame([("abc123 def!",)], "t string")
        got = df.select(bpe_ish_token_count(F.col("t")).alias("n")).collect()[0].n
        assert got == 4  # abc / 123 / def / !

    def test_language_id(self, spark):
        df = spark.createDataFrame(
            [("hello world this is latin text",),
             ("这是一个中文句子这是一个中文句子",),
             ("это русский текст между прочим",)],
            "t string",
        )
        got = [r.l for r in df.select(language_id(F.col("t")).alias("l")).collect()]
        assert got == ["latin", "zh", "ru"]

    def test_quality_monotone_in_length(self, spark):
        df = spark.createDataFrame(
            [("the quick brown fox is here for a good reason " * 10,),
             ("x",)],
            "t string",
        )
        got = [r.q for r in df.select(quality_score(F.col("t")).alias("q")).collect()]
        assert got[0] > got[1]
        assert 0.0 <= got[1] <= got[0] <= 1.0


class TestUpdater:
    # (cell, literal): bulk_update.py:59-74 documented intent.
    QUOTE_CELL_CASES = [
        ("5", "5"),
        ("1.5", "1.5"),
        ("-3e2", "-3e2"),
        (" 7 ", "7"),
        ("True", "true"),
        ("string", '"string"'),
        ("[1, 'nested_str']", "[1, 'nested_str']"),
        ("[1, 'x']", "[1, 'x']"),
        ('"already"', '"already"'),
        ('"q"', '"q"'),
        ("'s'", "'s'"),
        ("", "null"),
    ]
    # Only ASCII decimal literals count as numeric, so the spellings
    # Python's float()/int() also accept (nan, inf, underscores,
    # non-ASCII digits) are quoted as strings.
    NON_DECIMAL_CASES = [
        ("nan", '"nan"'),
        ("inf", '"inf"'),
        ("-Infinity", '"-Infinity"'),
        ("1_000", '"1_000"'),
        ("\u0661\u0662", '"\u0661\u0662"'),
    ]

    @staticmethod
    def _quote(spark, cells):
        df = spark.createDataFrame([(c,) for c in cells], "c string")
        return [r.q for r in df.select(quote_col(F.col("c")).alias("q")).collect()]

    def test_quote_cell(self, spark):
        cells = [c for c, _ in self.QUOTE_CELL_CASES]
        got = self._quote(spark, cells)
        assert list(zip(cells, got)) == self.QUOTE_CELL_CASES

    def test_quote_col_matches_quote_cell(self, spark):
        """The non-decimal numeric spellings stay strings beside the
        documented cases."""
        cases = self.QUOTE_CELL_CASES + self.NON_DECIMAL_CASES
        cells = [c for c, _ in cases]
        got = self._quote(spark, cells)
        assert list(zip(cells, got)) == cases


class TestUpdater100k:
    def test_100k_rows_match_sequential_fold(self, spark):
        """The reference's largest tested load (100,000 rows in small
        batches, test_bulk_update.py:306-343): one MERGE must equal a
        sequential python fold (strict file-order last-wins), which is
        what applying the reference's batches in order gives."""
        from pyspark.sql import functions as F

        base = spark.range(0, 50_000).select(
            F.col("id").alias("ext_id"), F.lit("init").alias("v")
        )
        n = 100_000
        upd = spark.range(0, n).select(
            (F.col("id") % 30_000).alias("ext_id"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
            F.col("id").alias("row_idx"),
        )
        merged = incremental_graph_update(base, upd, ["ext_id"],
                                          order_col="row_idx")
        m = {r.ext_id: r.v for r in merged.collect()}
        # python fold oracle: strict row order, last occurrence wins
        expect = {k: "init" for k in range(50_000)}
        for i in range(n):
            expect[i % 30_000] = f"v{i}"
        assert m == expect


class TestPiiRedaction:
    CASES = [
        # (input, expected after full email->ipv4->phone chain)
        ("mail a.b+c_d%e@sub.domain-x.org now",
         "mail <EMAIL> now"),
        ("two bob@x.io and ann@y.co here",
         "two <EMAIL> and <EMAIL> here"),
        ("server at 192.168.001.255 up",
         "server at <IPV4> up"),
        ("call +44 (0)20-7946 0958 now",
         "call <PHONE> now"),
        ("tel 5551234567.",
         "tel <PHONE>."),
        ("no pii in this sentence at all",
         "no pii in this sentence at all"),
        # order contract: the ip is gone before the phone pass, so the
        # phone rule cannot half-eat a dotted quad
        ("x 10.0.0.1 y 555-010-0421 z",
         "x <IPV4> y <PHONE> z"),
        ("", ""),
    ]

    def test_redaction_chain(self, spark):
        from redisgraph_bulk_loader_spark.functions.text import redact_pii

        df = spark.createDataFrame(
            [(i, s) for i, (s, _) in enumerate(self.CASES)],
            "i long, t string",
        ).select("i", redact_pii(F.col("t")).alias("r"))
        got = {r["i"]: r["r"] for r in df.collect()}
        for i, (_, expected) in enumerate(self.CASES):
            assert got[i] == expected, (i, got[i], expected)

    def test_counts_match_python_re(self, spark):
        import re

        from redisgraph_bulk_loader_spark.functions.text import (
            PII_PATTERNS,
            pii_count,
        )

        texts = [s for s, _ in self.CASES] + [
            "a@b.cc 1.2.3.4 +1 555 010 0000 c@d.ee 5.6.7.8"
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, t string"
        )
        for kind, pat in PII_PATTERNS.items():
            got = {
                r["i"]: r["n"]
                for r in df.select(
                    "i", pii_count(F.col("t"), kind).alias("n")
                ).collect()
            }
            for i, t in enumerate(texts):
                assert got[i] == len(re.findall(pat, t)), (kind, i, t)

    def test_unknown_kind_rejected(self, spark):
        from redisgraph_bulk_loader_spark.functions.text import (
            pii_count,
            redact_pii,
        )

        with pytest.raises(ValueError):
            redact_pii(F.lit("x"), ("ssn",))
        with pytest.raises(ValueError):
            pii_count(F.lit("x"), "ssn")
