"""Property-based tests (hypothesis) for the typing kernel invariants.

These pin the kernel against the reference's *rules* rather than
specific examples: precedence, empty->NULL, strict-cast totality, and
binary-encoding structure (tag byte first; payload shape per tag).
"""

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from redisgraph_bulk_loader_spark.exceptions import SchemaError
from redisgraph_bulk_loader_spark.kernel import (
    TAG_ARRAY,
    TAG_BOOL,
    TAG_DOUBLE,
    TAG_LONG,
    TAG_NULL,
    TAG_STRING,
    cast_cell,
    encode_cell_binary,
    infer_cell,
)

_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


@settings(max_examples=300)
@given(st.integers())
def test_every_int_inferred_long_or_double(n):
    cell = infer_cell(str(n))
    if _INT64_MIN <= n <= _INT64_MAX:
        assert cell.t == TAG_LONG and cell.l == n
    else:
        assert cell.t == TAG_DOUBLE and cell.d == float(n)


@settings(max_examples=300)
@given(st.floats(allow_nan=False, allow_infinity=False))
def test_every_finite_float_numeric(x):
    cell = infer_cell(repr(x))
    assert cell.t in (TAG_LONG, TAG_DOUBLE)
    # value preserved (int-looking reprs parse as long)
    got = cell.l if cell.t == TAG_LONG else cell.d
    assert float(got) == x


@settings(max_examples=300)
@given(st.text(max_size=40))
def test_inference_total_and_deterministic(s):
    a, b = infer_cell(s), infer_cell(s)
    assert a == b
    assert a.t in (TAG_NULL, TAG_BOOL, TAG_DOUBLE, TAG_STRING, TAG_LONG,
                   TAG_ARRAY)
    # exactly one payload set unless NULL
    payloads = [a.b, a.d, a.l, a.s, a.a]
    assert sum(p is not None for p in payloads) == (0 if a.t == TAG_NULL else 1)


@settings(max_examples=300)
@given(st.text(max_size=40))
def test_string_cast_passthrough_or_null(s):
    cell = cast_cell(s, TAG_STRING)
    if s.strip() == "":
        assert cell.t == TAG_NULL
    else:
        assert cell.t == TAG_STRING and cell.s == s.strip()


@settings(max_examples=300)
@given(st.text(max_size=30))
def test_long_cast_agrees_with_python_int(s):
    try:
        expected = int(s.strip())
        ok = _INT64_MIN <= expected <= _INT64_MAX and s.strip() != ""
    except ValueError:
        expected, ok = None, False
    if s.strip() == "":
        assert cast_cell(s, TAG_LONG).t == TAG_NULL
    elif ok:
        assert cast_cell(s, TAG_LONG).l == expected
    else:
        try:
            cast_cell(s, TAG_LONG)
            raised = False
        except SchemaError:
            raised = True
        assert raised


_VALUE_TAGS = (TAG_BOOL, TAG_DOUBLE, TAG_STRING, TAG_LONG, TAG_ARRAY)
# free text rarely parses as anything but a string, so mix in spellings
# of every value type (with surrounding space, broken brackets, nan/inf)
_CELL_TEXT = st.one_of(
    st.text(max_size=30),
    st.integers().map(str),
    st.floats().map(repr),
    st.sampled_from(["true", " FALSE ", "[1, 'a', [2.5]]", "[", "[1,",
                     "[]", "nan", "-inf", "1_000", "١٢", " "]),
)


@settings(max_examples=500)
@given(_CELL_TEXT, st.sampled_from(_VALUE_TAGS))
def test_cast_is_declared_type_or_null_and_agrees_with_inference(s, t):
    try:
        cast = cast_cell(s, t)
    except SchemaError:
        cast = None
    else:
        assert cast.t in (TAG_NULL, t)
    inferred = infer_cell(s)
    if inferred.t == t:
        assert cast == inferred


@settings(max_examples=300)
@given(st.text(max_size=40))
def test_binary_encoding_tag_structure(s):
    data = encode_cell_binary(s)
    assert len(data) >= 1
    tag = data[0]
    cell = infer_cell(s)
    assert tag == cell.t
    if tag == TAG_LONG:
        assert len(data) == 9
        assert struct.unpack("=q", data[1:])[0] == cell.l
    elif tag == TAG_DOUBLE:
        assert len(data) == 9
    elif tag == TAG_BOOL:
        assert len(data) == 2
    elif tag == TAG_STRING:
        assert data.endswith(b"\x00")
        assert data[1:-1].decode("utf-8") == cell.s
    elif tag == TAG_NULL:
        assert data == b"\x00"


# ---------------------------------------------------------------------------
# Distributed record-assembly scanner vs python csv (code-review r4)
# ---------------------------------------------------------------------------

_field = st.text(
    alphabet=st.sampled_from(list('ab5," \n')), min_size=0, max_size=8,
).filter(lambda s: "\\" not in s)


@settings(max_examples=400, deadline=None)
@given(st.lists(st.lists(_field, min_size=1, max_size=4),
                min_size=1, max_size=6))
def test_scan_quote_state_matches_csv_record_boundaries(rows):
    """Driver-side property: segmenting physical lines into records via
    _scan_quote_state (the distributed path's state machine, starting
    outside quotes with no continuation) and csv-parsing each record
    must reproduce exactly what csv.reader produces over the whole
    text — for arbitrary combinations of quoted fields, embedded
    newlines/commas, doubled quotes, and literal mid-field quotes."""
    import csv as _csv
    import io as _io

    from redisgraph_bulk_loader_spark.plans.loader import _scan_quote_state

    buf = _io.StringIO()
    w = _csv.writer(buf, quoting=_csv.QUOTE_MINIMAL, lineterminator="\n")
    for r in rows:
        w.writerow(r)
    # raw literal-quote lines a writer would never emit (unquoted
    # fields containing quotes mid-field)
    text = buf.getvalue() + 'x5" lit,tail"q\nplain,end\n'

    expected = list(_csv.reader(
        _io.StringIO(text), delimiter=",", skipinitialspace=True,
        quoting=_csv.QUOTE_MINIMAL, escapechar=None,
    ))

    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    records, cur = [], []
    in_q, dang = False, False
    for line in lines:
        if not (in_q or dang):
            if cur:
                records.append("\n".join(cur))
            cur = [line]
        else:
            cur.append(line)
        in_q, dang = _scan_quote_state(line, in_q, ",", None)
    if cur:
        records.append("\n".join(cur))

    got = []
    for rec in records:
        parsed = list(_csv.reader(
            _io.StringIO(rec), delimiter=",", skipinitialspace=True,
            quoting=_csv.QUOTE_MINIMAL, escapechar=None,
        ))
        got.append(parsed[0] if parsed else [])
    # csv.reader emits nothing for blank physical lines; our
    # per-record parse yields [] for blank records — compare the
    # non-blank rows (the blank-insensitive property under test)
    got_nonempty = [g for g in got if g != []]
    exp_nonempty = [e for e in expected if e != []]
    assert got_nonempty == exp_nonempty


class TestUnitFoldProperties:
    """The row-local repetition fold (operators/curation._unit_fold)
    against a Counter-based reference, over arbitrary unit multisets.
    One Spark job evaluates ALL drawn cases (hypothesis drives the
    data generation only, not per-example Spark jobs)."""

    def test_fold_matches_counter_reference(self, spark):
        from collections import Counter

        from pyspark.sql import functions as F

        from redisgraph_bulk_loader_spark.operators.curation import (
            _unit_fold,
        )

        import random

        rng = random.Random(42)
        vocab = ["a", "bb", "ccc", "dddd", "e" * 7, "x"]
        cases = [[]]
        for _ in range(200):
            cases.append(
                [rng.choice(vocab) for _ in range(rng.randrange(0, 30))]
            )
        df = spark.createDataFrame(
            [(i, units) for i, units in enumerate(cases)],
            "i long, units array<string>",
        )
        fold = _unit_fold(F.array_sort(F.col("units")))
        got = {
            r["i"]: (r["s"]["top"], r["s"]["dup"], r["s"]["rep_n"],
                     r["s"]["rep_chars"], r["s"]["total"])
            for r in df.select("i", fold.alias("s")).collect()
        }
        for i, units in enumerate(cases):
            c = Counter(units)
            expect = (
                max((n * len(u) for u, n in c.items()), default=0),
                sum(n * len(u) for u, n in c.items() if n >= 2),
                sum(n - 1 for n in c.values()),
                sum((n - 1) * len(u) for u, n in c.items()),
                sum(n * len(u) for u, n in c.items()),
            )
            assert got[i] == expect, (i, units, got[i], expect)


class TestPackSequencesProperties:
    def test_random_weights_match_reference(self, spark):
        """Placements over random weights/windows equal the
        single-stream python layout, for several windows in one job."""
        import hashlib
        import random

        from redisgraph_bulk_loader_spark.operators.mixing import (
            pack_sequences,
        )

        rng = random.Random(7)
        rows = [(i, rng.randrange(1, 5000)) for i in range(3000)]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        for window in (1, 17, 4096):
            out = pack_sequences(df, "doc_id", "w", window)
            got = {
                r["doc_id"]: (r["start_offset"], r["start_bin"],
                              r["end_bin"])
                for r in out.collect()
            }
            order = sorted(
                rows,
                key=lambda t: (
                    hashlib.md5(str(t[0]).encode()).hexdigest(), t[0]),
            )
            off = 0
            for did, w in order:
                assert got[did] == (
                    off, off // window, (off + w - 1) // window), (
                    window, did)
                off += w
