"""Property-based tests (hypothesis) for the parse/redact/dedup kernels —
beyond the reference's example-based strategy (SURVEY §5 notes it has no
property testing): arbitrary hostile inputs must never crash the
projections, and the algebraic laws the engine relies on must hold.

Spark round-trips are expensive per example, so properties run on small
example budgets against one shared session; pure-Python kernels
(http_source loop) get full budgets.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from api_etl_pipeline_spark.ingest.http_source import fetch_items, RateLimiter

# --- pure-Python kernel: full hypothesis budget -----------------------------

statuses = st.one_of(st.sampled_from([200, 201, 204, 403, 404, 429, 500, 503]),
                     st.integers(min_value=100, max_value=599))


@given(st.lists(statuses, min_size=1, max_size=6))
@settings(max_examples=200)
def test_fetch_attempt_invariants(status_seq):
    """For ANY status sequence: ≤3 attempts per item, attempt numbers are
    1..n contiguous, a success or non-retryable status ends the series,
    and bodies appear only on success."""
    seq = iter(status_seq)

    def transport(method, url, headers):
        try:
            s = next(seq)
        except StopIteration:
            s = status_seq[-1]
        return s, {}, b"ok"

    rows = list(fetch_items(
        [{"item_index": 0, "url": "https://h.example/x"}],
        transport,
        limiter=RateLimiter(clock=lambda: 0.0, sleep=lambda s: None),
    ))
    assert 1 <= len(rows) <= 3
    assert [r["attempt_number"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows[:-1]:  # every non-final attempt is a retryable failure
        assert r["error_type"] == "RetryableStatus"
    last = rows[-1]
    if last["error_type"] is None:
        # non-retryable, non-4xx/5xx statuses are captured as-is (reference
        # parity: raise_for_status only rejects >= 400) — 1xx/2xx/3xx pass
        assert last["body"] == b"ok" and 100 <= last["status_code"] < 400
    else:
        assert last["body"] is None


# --- Spark projections: small example budgets over one session --------------

json_scalars = st.one_of(st.none(), st.booleans(), st.integers(-1000, 1000),
                         st.text(max_size=12))
json_values = st.recursive(
    json_scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=3),
        st.dictionaries(st.text(min_size=1, max_size=8), kids, max_size=3),
    ),
    max_leaves=8,
)


@given(st.lists(json_values, min_size=1, max_size=8))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_nrc_extraction_never_crashes(spark, payloads):
    """F1/F3 tolerance: ANY JSON document (or garbage) through the NRC
    extraction yields a row per input with a null-or-string artifact_url —
    never an exception (the reference's `_safe_json` contract)."""
    from api_etl_pipeline_spark.ingest import parse as P

    rows = [
        (i, "k", "nrc_adams_aps", "POST", "https://x/s", None, 200, "{}",
         json.dumps(p).encode())
        for i, p in enumerate(payloads)
    ]
    df = spark.createDataFrame(
        rows,
        "item_index int, item_key string, provider string, method string, url string, "
        "params_json string, status_code int, headers_json string, body binary",
    )
    out = P.nrc_extract_pdf_url(df).select("item_index", "artifact_url").collect()
    assert len(out) == len(payloads)
    assert all(r.artifact_url is None or isinstance(r.artifact_url, str) for r in out)


@given(st.dictionaries(st.text(min_size=1, max_size=16), st.text(max_size=16),
                       min_size=0, max_size=6))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_redaction_idempotent_and_preserves_keys(spark, headers):
    """F15 laws: redaction preserves the key set, never invents values,
    and is idempotent (redact∘redact = redact)."""
    import json as _json

    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.ingest.redact import REDACTED, redact_headers_json

    df = spark.createDataFrame([(_json.dumps(headers),)], "headers_json string")
    once = df.select(redact_headers_json(F.col("headers_json")).alias("r"))
    row1 = once.collect()[0].r
    parsed1 = _json.loads(row1)
    assert set(parsed1) == set(headers)
    for k, v in parsed1.items():
        assert v == headers[k] or v == REDACTED
    twice = once.select(redact_headers_json(F.col("r")).alias("r2")).collect()[0].r2
    assert _json.loads(twice) == parsed1


@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=20),
    st.sets(st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=20),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_merge_asof_on_random_data(spark, left_rows, right_rows):
    """As-of law on arbitrary data: for every left row, the result equals
    the max right ts ≤ left ts for the key (right side unique per
    (key, ts) — the documented determinism precondition)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.ops.advanced import asof_join_last

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)], "lid int, k int, t int"
    ).select("lid", "k", F.timestamp_seconds("t").alias("lts"))
    right = spark.createDataFrame(
        sorted(right_rows), "k int, t int"
    ).select("k", F.timestamp_seconds("t").alias("rts"), F.col("t").alias("rv"))

    got = {
        r.lid: r.asof_rv
        for r in asof_join_last(left, right, "k", "lts", "rts", ["rv"]).collect()
    }
    # ground truth: brute force
    for i, (k, t) in enumerate(left_rows):
        candidates = [rt for (rk, rt) in right_rows if rk == k and rt <= t]
        want = max(candidates) if candidates else None
        assert got[i] == want, (i, k, t, got[i], want)


def test_funnel_stage_timestamps_are_monotone(spark):
    """q38 invariant: each reached funnel stage happens at or after the
    previous one, and a stage can only be reached if the previous was."""
    from api_etl_pipeline_spark.ops.advanced import q38_funnel_steps
    from tests.conftest import SF_SMOKE

    rows = q38_funnel_steps(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.t_view is not None
        if r.t_click is not None:
            assert r.t_click >= r.t_view
        if r.t_purchase is not None:
            assert r.t_click is not None and r.t_purchase >= r.t_click


def test_gaps_islands_partition_invariants(spark):
    """ev02 invariants: per-user session event counts sum to the user's
    total events; session time ranges are disjoint and ordered; every
    inter-session gap exceeds 30 minutes and every intra-session span is
    gap-bounded between consecutive sessions."""
    import datetime as dt

    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.ops.events_analytics import ev02_gaps_islands
    from api_etl_pipeline_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    sessions = ev02_gaps_islands(spark, SF_SMOKE).collect()
    totals = {
        r.user_id: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    by_user: dict = {}
    for r in sessions:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(totals)
    gap = dt.timedelta(minutes=30)
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r.session_seq)
        assert sum(r.n_events for r in rows) == totals[uid]
        for a, b in zip(rows, rows[1:]):
            assert b.session_seq == a.session_seq + 1
            assert b.session_start - a.session_end > gap, (uid, a, b)
        for r in rows:
            assert r.session_start <= r.session_end


def test_event_trigram_count_conservation(spark):
    """ev07 invariant: total trigram paths = Σ_users max(0, n_events-2)."""
    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.ops.events_analytics import ev07_top_event_sequences
    from api_etl_pipeline_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    total_paths = (
        ev07_top_event_sequences(spark, SF_SMOKE)
        .agg(F.sum("n").alias("s"))
        .collect()[0]["s"]
    )
    per_user = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    want = sum(max(0, r.n - 2) for r in per_user)
    assert total_paths == want


def test_hll_merge_law_and_error_bound(spark):
    """The property q51 relies on: the union of per-month sketches and the
    whole-data sketch must BOTH land within HLL's error envelope of the
    exact count (and hence near each other). Union is NOT bit-identical
    to single-pass sketching in DataSketches HLL (the union operates in a
    coarser target mode), so exact estimate equality is deliberately not
    asserted — the mergeability contract is bounded error, not identity."""
    from api_etl_pipeline_spark.ops.advanced import _q51_estimates
    from tests.conftest import SF_DIR

    rows = _q51_estimates(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        bound = max(3, 0.05 * r["exact_distinct"])
        assert abs(r["hll_direct"] - r["exact_distinct"]) <= bound
        assert abs(r["hll_merged"] - r["exact_distinct"]) <= bound
        assert abs(r["hll_merged"] - r["hll_direct"]) <= bound


@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_decode_image_roundtrip_ppm_and_bmp(w, h, data):
    """decode_image law: encoding arbitrary RGB pixels as P6 and as
    24bpp BMP (both storage orders) must decode back to the identical
    (w, h, rgb) — random odd widths exercise BMP's 4-byte row padding,
    which is where off-by-ones live."""
    import struct

    from api_etl_pipeline_spark.llm_ops.multimodal import decode_image

    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    # PPM P6
    assert decode_image(b"P6\n%d %d\n255\n" % (w, h) + pixels) == (w, h, pixels)
    # BMP, both row orders
    stride = ((w * 3 + 3) // 4) * 4
    for top_down in (False, True):
        raster = bytearray()
        rows = range(h) if top_down else reversed(range(h))
        for y in rows:
            row = bytearray()
            for x in range(w):
                r, g, b = pixels[(y * w + x) * 3 : (y * w + x) * 3 + 3]
                row += bytes((b, g, r))
            row += b"\x00" * (stride - len(row))
            raster += row
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
        hdr += struct.pack(
            "<IiiHHIIiiII", 40, w, (h if not top_down else -h), 1, 24, 0,
            len(raster), 0, 0, 0, 0,
        )
        assert decode_image(bytes(hdr) + bytes(raster)) == (w, h, pixels)


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=12
    ),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=120, deadline=None)
def test_bpe_sentinel_replace_equals_classical_merge(words, rounds):
    """The tx21/tx22 encoding claim as a PROPERTY, engine-free: greedy
    leftmost-non-overlapping string replace on the SENTINEL-WRAPPED
    symbol string is exactly classical list-walking BPE merging — for
    ARBITRARY words and an arbitrary trained-rule trajectory (rules
    derived by the classical trainer itself, so later rules routinely
    contain earlier merge products: the boundary-anchoring case the
    round-6 advice flagged). Python str.replace shares SQL replace's
    leftmost-non-overlap semantics, so this pins the encoding, not the
    engine."""
    from collections import Counter

    from api_etl_pipeline_spark.llm_ops.text import BPE_L, BPE_R

    def enc(syms):
        return "".join(BPE_L + s + BPE_R for s in syms)

    # classical state: list-of-symbols per word; sentinel state: string
    classical = {w: list(w) for w in set(words)}
    sentinel = {w: enc(list(w)) for w in set(words)}
    wcnt = Counter(words)
    for _ in range(rounds):
        pairs: Counter = Counter()
        for w, syms in classical.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wcnt[w]
        if not pairs:
            break
        # the trainer's tie rule: max count, then lexicographic
        (lhs, rhs), _ = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w in classical:
            syms, out, i = classical[w], [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            classical[w] = out
            sentinel[w] = sentinel[w].replace(enc([lhs, rhs]), enc([lhs + rhs]))
    for w in classical:
        assert sentinel[w] == enc(classical[w]), (w, classical[w], sentinel[w])


# --- T4 pagination properties (round 8) ---

@given(
    total=st.integers(min_value=0, max_value=137),
    page_size=st.integers(min_value=1, max_value=25),
)
@settings(max_examples=60, deadline=None)
def test_pagination_drains_exactly_once(total, page_size):
    """For ANY (total, page_size): the skip loop sees every record
    exactly once, in order, and issues exactly the request count the
    dossier's stop rules imply (ceil pages; +1 empty probe iff the
    total is an exact page multiple — including total=0's single
    empty-page probe)."""
    import json as _json

    from api_etl_pipeline_spark.ingest.http_source import RateLimiter, fetch_items

    calls = []

    def transport(method, url, headers):
        from urllib.parse import parse_qs, urlparse

        q = parse_qs(urlparse(url).query)
        skip = int(q.get("skip", ["0"])[0])
        calls.append(skip)
        results = list(range(skip, min(skip + page_size, total)))
        return 200, {}, _json.dumps({"results": results, "count": 999999}).encode()

    item = {"item_index": 0, "provider": "t",
            "url": "https://api.example.gov/search",
            "paginate": {"skip_param": "skip", "page_size": page_size}}
    rows = list(fetch_items([item], transport,
                            limiter=RateLimiter(clock=lambda: 0.0,
                                                sleep=lambda s: None)))
    seen = []
    for r in rows:
        body = r["body"]
        assert r["status_code"] == 200 and body is not None
        seen.extend(_json.loads(body)["results"])
    assert seen == list(range(total))  # exactly once, in order
    expected_pages = (
        total // page_size + 1 if total % page_size == 0 else -(-total // page_size)
    )
    assert len(calls) == expected_pages
    assert calls == [i * page_size for i in range(expected_pages)]


# --- maint01 next-fit packing properties (round 8) ---

@given(
    sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=60),
    target=st.integers(min_value=100, max_value=1000),
)
@settings(max_examples=60, deadline=None)
def test_next_fit_packing_invariants(sizes, target):
    """The cumsum-before DIV target rule (maint01/pack02) for ANY size
    sequence: groups are contiguous in input order (clustering
    survives), ids ascend with position, every group except possibly
    the last would not have accepted its first file earlier (next-fit),
    and no group exceeds target by more than ONE file's worth."""
    cum = 0
    groups = []
    for s in sizes:
        groups.append(cum // target)
        cum += s
    # contiguous + monotone
    assert groups == sorted(groups)
    # group byte totals: each group except the last ends because cumsum
    # crossed a target boundary => total >= its boundary remainder, and
    # overshoot is bounded by the last file added
    from collections import defaultdict

    by_group = defaultdict(list)
    start_cum: dict[int, int] = {}
    cum = 0
    for s, g in zip(sizes, groups):
        start_cum.setdefault(g, cum)
        by_group[g].append(s)
        cum += s
    for g, members in by_group.items():
        total_g = sum(members)
        end_cum = start_cum[g] + total_g
        if g != max(groups):
            # closed group: its cumsum crossed the next target boundary
            assert end_cum >= (g + 1) * target
            # ...but only because of its LAST member (next-fit bound):
            # without that file it was still inside the window
            assert end_cum - members[-1] < (g + 1) * target
            # overshoot bounded by one file
            assert total_g < target + members[-1]


# --- exact money sums on integer lanes (ops/_compat.exact_sum) -------------


def test_exact_sum_equals_decimal_cast_sum(spark):
    """For seeded ≤s-decimal values, negatives included, the two-lane
    bigint sum equals Spark's decimal sum to the last digit at scales 2,
    4 and 6 — also for a group whose unscaled total exceeds int64."""
    import random

    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.ops._compat import exact_sum

    rng = random.Random(20261017)
    for scale in (2, 4, 6):
        rows = [
            (g, rng.randint(-10**9, 10**9) / 10**scale)
            for g in range(4)
            for _ in range(250)
        ]
        # 20 rows of 9e17 unscaled units: the total, 1.8e19, is past int64
        big = 9.0 * 10 ** (17 - scale)
        rows += [(9, big)] * 20
        df = spark.createDataFrame(rows, "g int, x double")
        out = df.groupBy("g").agg(
            exact_sum(F.col("x"), scale).alias("lanes"),
            F.sum(F.col("x").cast(f"decimal(18,{scale})")).alias("dec"),
        ).collect()
        assert len(out) == 5
        for r in out:
            assert r["lanes"] == r["dec"], (scale, r)
        totals = {r["g"]: r["lanes"] for r in out}
        assert totals[9] * 10**scale > 2**63


def test_exact_sum_overflow_raises(spark):
    """Out-of-range input fails the query instead of wrapping: a row
    whose unscaled value is past int64, and a hi lane pushed past int64
    (2^21 rows of ~2^63 unscaled units)."""
    import pytest
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    from api_etl_pipeline_spark.ops._compat import exact_sum

    one_row = spark.createDataFrame([(1.0e16,)], "x double")
    with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
        one_row.agg(exact_sum(F.col("x"), 4)).collect()
    many = spark.range(1 << 21).select(F.lit(9.2e14).alias("x"))
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        many.agg(exact_sum(F.col("x"), 4)).collect()
