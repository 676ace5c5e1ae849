"""Property-based tests (SURVEY §5 strategy #4) for the semantics the
reference makes subtle: keep-last dedup (O3), coercing casts (T1),
melt/unpivot (R1), and upsert idempotence (K3).

Each property checks the Spark operator against an independent pandas
model of the reference's behavior on hypothesis-generated inputs. Examples
are kept small (Spark job per example) with bounded example counts.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.integers(min_value=0, max_value=3)
orders = st.integers(min_value=0, max_value=50)
values = st.integers(min_value=-100, max_value=100)


@given(rows=st.lists(st.tuples(keys, orders, values), min_size=1, max_size=30))
@SETTINGS
def test_keep_last_matches_pandas(spark, rows):
    """dedup_keep_last == pandas drop_duplicates(keep='last') after a stable
    sort on the order column (reference food_supply_gap/transformer.py:75)."""
    from nyc_open_data_pipeline_spark.operators.dedup import dedup_keep_last

    # make (key, order) unique so "last" is well-defined in both engines
    seen = {}
    for k, o, v in rows:
        seen[(k, o)] = v
    uniq = [(k, o, v) for (k, o), v in seen.items()]

    pdf = pd.DataFrame(uniq, columns=["k", "o", "v"])
    want = (
        pdf.sort_values("o", kind="mergesort")
        .drop_duplicates(subset=["k"], keep="last")
        .sort_values("k")[["k", "o", "v"]]
        .values.tolist()
    )
    sdf = spark.createDataFrame(uniq, ["k", "o", "v"])
    got = sorted(
        map(list, dedup_keep_last(sdf, keys=["k"], order_by=["o"]).collect())
    )
    assert got == sorted(want)


numeric_strings = st.one_of(
    st.integers(-10**6, 10**6).map(str),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(lambda f: f"{f:.4f}"),
    st.sampled_from(["", "oops", "12abc", "NaN", " 7 ", "1e3", "-", "3.5.1"]),
)


@given(vals=st.lists(numeric_strings, min_size=1, max_size=25))
@SETTINGS
def test_coercing_cast_matches_pandas(spark, vals):
    """cast('double') with ANSI off == pd.to_numeric(errors='coerce'),
    modulo pandas treating 'NaN' as NaN (both end up null-ish)."""
    pdf_want = pd.to_numeric(pd.Series(vals), errors="coerce")
    sdf = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = [r["d"] for r in sdf.select(F.col("s").cast("double").alias("d")).collect()]
    for g, w in zip(got, pdf_want):
        if pd.isna(w):
            # Spark parses 'NaN' to float NaN; pandas coerces to NaN — both "missing"
            assert g is None or g != g
        else:
            # relative tolerance: decimal-string parsing may differ by 1 ulp
            assert g is not None and abs(g - float(w)) <= 1e-12 * max(1.0, abs(float(w)))


@given(
    data=st.lists(
        st.tuples(st.integers(0, 5), st.integers(-50, 50), st.integers(-50, 50)),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_melt_matches_pandas(spark, data):
    """unpivot == pandas melt (reference zillow_zori/transformer.py:12-17)."""
    pdf = pd.DataFrame(data, columns=["id", "m1", "m2"])
    want = sorted(
        map(
            tuple,
            pdf.melt(id_vars=["id"], value_vars=["m1", "m2"],
                     var_name="month", value_name="val").values.tolist(),
        )
    )
    sdf = spark.createDataFrame(data, ["id", "m1", "m2"])
    got = sorted(
        map(
            tuple,
            sdf.melt(
                ids=["id"], values=["m1", "m2"],
                variableColumnName="month", valueColumnName="val",
            ).collect(),
        )
    )
    assert got == want


@given(
    batch=st.lists(st.tuples(st.integers(0, 4), st.integers(-100, 100)), min_size=1, max_size=12)
)
@SETTINGS
def test_upsert_idempotent(spark, tmp_path_factory, batch):
    """K3: merging the same batch twice == merging it once (reference
    storage.py:230-297 ON CONFLICT DO UPDATE is naturally idempotent)."""
    from nyc_open_data_pipeline_spark.pipeline.schema import TableSchema
    from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage

    root = str(tmp_path_factory.mktemp("prop_upsert"))
    storage = ParquetStorage(root)
    schema = TableSchema.from_dict(
        {
            "table_name": "prop_table",
            "columns": [
                {"name": "k", "type": "integer", "primary_key": True},
                {"name": "v", "type": "integer"},
            ],
            "unique_keys": ["k"],
        }
    )
    # last value per key wins within a batch; dedup first like the pipeline does
    dedup = {}
    for k, v in batch:
        dedup[k] = v
    df = spark.createDataFrame(sorted(dedup.items()), ["k", "v"])

    storage.upsert(spark, df, schema)
    once = sorted(map(tuple, storage.read(spark, "prop_table").collect()))
    storage.upsert(spark, df, schema)
    twice = sorted(map(tuple, storage.read(spark, "prop_table").collect()))
    assert once == twice == sorted(dedup.items())


asof_keys = st.integers(min_value=0, max_value=2)
asof_times = st.integers(min_value=0, max_value=1000)


@given(
    left=st.lists(st.tuples(asof_keys, asof_times), min_size=1, max_size=15, unique=True),
    right=st.lists(st.tuples(asof_keys, asof_times, values), min_size=0, max_size=15,
                   unique_by=lambda r: (r[0], r[1])),
)
@SETTINGS
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join == pandas merge_asof(allow_exact_matches=False, by=key) on
    inputs with unique (key, time) — the strict-predecessor semantics."""
    from nyc_open_data_pipeline_spark.operators.temporal import asof_join

    # keep (key, time) unique ACROSS sides so strictness is unambiguous
    lset = set(left)
    right = [r for r in right if (r[0], r[1]) not in lset]

    # eid is the shared tiebreak column: globally unique across both sides
    ldf = spark.createDataFrame(
        [(k, t_, i) for i, (k, t_) in enumerate(left)], "k long, t long, eid long"
    )
    rdf = spark.createDataFrame(
        [(k, t_, v, 1000 + i) for i, (k, t_, v) in enumerate(right)],
        "k long, t long, v long, eid long",
    )
    got = {
        r["eid"]: (r["__asof"]["t"], r["__asof"]["v"]) if r["__asof"] else None
        for r in asof_join(ldf, rdf, key="k", time="t", tiebreak="eid").collect()
    }

    lp = pd.DataFrame([(k, t_, i) for i, (k, t_) in enumerate(left)],
                      columns=["k", "t", "eid"]).sort_values("t")
    rp = pd.DataFrame([(k, t_, v) for k, t_, v in right],
                      columns=["k", "t", "v"], dtype="int64").sort_values("t")
    rp = rp.assign(t_r=rp["t"])  # merge_asof drops the right on-column
    merged = pd.merge_asof(lp, rp, on="t", by="k", allow_exact_matches=False)
    for row in merged.itertuples(index=False):
        want = None if pd.isna(row.v) else (int(row.t_r), int(row.v))
        assert got[row.eid] == want, (row.eid, got[row.eid], want)


@given(
    probes=st.lists(st.tuples(asof_keys, asof_times), min_size=1, max_size=10,
                    unique_by=lambda r: r[1]),
    events=st.lists(st.tuples(asof_keys, asof_times, values), min_size=0, max_size=20),
)
@SETTINGS
def test_range_join_matches_brute_force(spark, probes, events):
    """range_join_binned == the O(n*m) definition: same-key events with
    event_time in [probe_time, probe_time + W)."""
    import datetime as dt

    from nyc_open_data_pipeline_spark.operators.temporal import range_join_binned

    W = 60
    TS = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    pdf = spark.createDataFrame(
        [(k, TS(t_), i) for i, (k, t_) in enumerate(probes)],
        "k long, pt timestamp, pid long",
    )
    edf = spark.createDataFrame(
        [(k, TS(t_), v) for k, t_, v in events], "k long, et timestamp, v long"
    )
    got = sorted(
        (r["pid"], r["et"], r["v"])
        for r in range_join_binned(pdf, edf, key="k", probe_time="pt",
                                   event_time="et", window_seconds=W).collect()
    )
    want = sorted(
        (pid, TS(et), v)
        for pid, (pk, pt) in enumerate(probes)
        for (ek, et, v) in events
        if ek == pk and pt <= et < pt + W
    )
    assert got == want


@given(vals=st.lists(st.sampled_from("abcde"), min_size=0, max_size=40))
@SETTINGS
def test_run_counts_matches_counter(spark, vals):
    """_run_counts over a sorted array == collections.Counter (the O(n)
    array-expression run-length must agree with the obvious reference)."""
    from collections import Counter

    from nyc_open_data_pipeline_spark.plans.llmdata import _run_counts

    df = spark.createDataFrame([(vals,)], "arr array<string>")
    (row,) = df.select(_run_counts(F.array_sort(F.col("arr"))).alias("r")).collect()
    got = {p["v"]: p["c"] for p in row["r"]}
    assert got == dict(Counter(vals))


@given(
    events=st.lists(
        st.tuples(st.sampled_from(["view", "click", "purchase"]),
                  st.integers(min_value=0, max_value=20)),
        min_size=0,
        max_size=15,
    )
)
@SETTINGS
def test_funnel_reached_matches_brute_force(spark, events):
    """The streaming funnel's state reduction == brute-force search over all
    (view, click, purchase) chains with strictly increasing timestamps."""
    from nyc_open_data_pipeline_spark.streaming.stateful import _funnel_reached

    views = [t for e, t in events if e == "view"]
    clicks = [t for e, t in events if e == "click"]
    purchases = [t for e, t in events if e == "purchase"]

    brute = 0
    if views:
        brute = 1
        if any(c > min(views) for c in clicks):
            brute = 2
            # greedy-earliest is optimal for chain extension, but verify by search
            for v in views:
                for c in clicks:
                    if c > v and any(p > c for p in purchases):
                        brute = 3
    # greedy t1=min(views) dominates: any chain from a later view is also a
    # chain from the earliest view? NO — only t2 choices grow; earliest t2
    # then maximizes t3 options. The state machine uses greedy; brute must agree.
    assert _funnel_reached(views, clicks, purchases) == brute


@given(
    base=st.lists(st.tuples(keys, values), min_size=1, max_size=12),
    gone=st.lists(keys, max_size=4),
)
@SETTINGS
def test_upsert_then_delete_roundtrip(spark, tmp_path_factory, base, gone):
    """delete_keys is the upsert's exact inverse: after upserting a batch
    and deleting an arbitrary key set, the table holds precisely the
    upserted keys minus the deleted ones — and re-deleting is a no-op."""
    from nyc_open_data_pipeline_spark.pipeline.schema import ColumnSpec, TableSchema
    from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage

    storage = ParquetStorage(str(tmp_path_factory.mktemp("del_prop")))
    schema = TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "integer")],
        unique_keys=["k"],
    )
    storage.upsert(spark, spark.createDataFrame(base, ["k", "v"]), schema)
    kept = {k for k, _ in base}
    if gone:
        n = storage.delete_keys(
            spark, spark.createDataFrame([(k,) for k in gone], ["k"]), schema
        )
        kept -= set(gone)
        assert n == len(kept)
        # idempotent
        assert storage.delete_keys(
            spark, spark.createDataFrame([(k,) for k in gone], ["k"]), schema
        ) == len(kept)
    got = {r["k"] for r in storage.read(spark, "t").collect()}
    assert got == kept


words_voc = st.sampled_from(["a", "b", "c", "d"])
doc_texts = st.lists(words_voc, min_size=1, max_size=25).map(" ".join)


@given(texts=st.lists(doc_texts, min_size=1, max_size=8))
@SETTINGS
def test_line_dedup_matches_python_model(spark, texts):
    """line_dedup == an independent Python model of C4-style keep-first
    chunk dedup (chunk = 3 words here so tiny docs still collide)."""
    import hashlib

    from nyc_open_data_pipeline_spark.operators.dedup import line_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["cleaned_md5"])
        for r in line_dedup(docs, chunk_words=3).collect()
    }

    # model: first doc_id owning each chunk text keeps it
    owner: dict[str, int] = {}
    chunks_by_doc = {}
    for i, t in rows:
        ws = t.split(" ")
        cs = [" ".join(ws[j : j + 3]) for j in range(0, len(ws), 3)]
        chunks_by_doc[i] = cs
        for c in cs:
            owner.setdefault(c, min(owner.get(c, i), i))
    for i, cs in chunks_by_doc.items():
        kept = [c for c in cs if owner[c] == i]
        md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert got[i] == (len(cs), len(kept), md5), f"doc {i}"


@given(texts=st.lists(doc_texts, min_size=1, max_size=8))
@SETTINGS
def test_cdc_chunk_dedup_matches_python_model(spark, texts):
    """cdc_chunk_dedup == an independent Python model: content-defined
    boundaries (portable word hash % 2 == 0 here, so the 4-word vocabulary
    actually produces boundaries), keep-first election by min doc_id."""
    import hashlib

    from nyc_open_data_pipeline_spark.operators.dedup import cdc_chunk_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["cleaned_md5"])
        for r in cdc_chunk_dedup(docs, boundary_mod=2).collect()
    }

    def h64(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16)

    owner: dict[str, int] = {}
    chunks_by_doc = {}
    for i, t in rows:
        cs, cur = [], []
        for w in t.split(" "):
            cur.append(w)
            if h64(w) % 2 == 0:
                cs.append(" ".join(cur))
                cur = []
        if cur:
            cs.append(" ".join(cur))
        chunks_by_doc[i] = cs
        for c in cs:
            owner.setdefault(c, min(owner.get(c, i), i))
    for i, cs in chunks_by_doc.items():
        kept = [c for c in cs if owner[c] == i]
        md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert got[i] == (len(cs), len(kept), md5), f"doc {i}"


def test_cdc_chunks_survive_insertion(spark):
    """The CDC selling point over fixed-width chunking: inserting one word
    near the head of a duplicated document must leave every chunk after
    the edit region identical (still deduplicated away), where d15's
    fixed windows would shift and match nothing."""
    from pyspark.sql import functions as F
    from nyc_open_data_pipeline_spark.operators.dedup import (
        cdc_chunk_dedup,
        line_dedup,
    )

    text = " ".join(f"tok{j}" for j in range(60))
    edited = "INSERTED " + text
    docs = spark.createDataFrame(
        [(0, text), (1, edited)], "doc_id long, text string"
    )
    cdc = {r["doc_id"]: r for r in cdc_chunk_dedup(docs, boundary_mod=4).collect()}
    # the edited doc shares every post-edit-region chunk with doc 0 -> most
    # of its chunks are owned by doc 0 and get deduplicated away
    assert cdc[1]["n_kept"] < cdc[1]["n_chunks"] / 2
    # fixed-width chunking keeps almost everything (boundaries all shifted)
    fixed = {r["doc_id"]: r for r in line_dedup(docs, chunk_words=4).collect()}
    assert fixed[1]["n_kept"] > cdc[1]["n_kept"]


ff_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # key
        st.integers(min_value=0, max_value=40),  # order
        st.one_of(st.none(), st.integers(min_value=-9, max_value=9)),
    ),
    min_size=1,
    max_size=25,
)


@given(rows=ff_rows)
@SETTINGS
def test_forward_fill_matches_pandas_ffill(spark, rows):
    """forward_fill == pandas groupby().ffill() on (key, order)-sorted
    frames (ties broken by a unique row id, mirrored in both)."""
    from nyc_open_data_pipeline_spark.operators.temporal import forward_fill

    data = [(k, o, i, v) for i, (k, o, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, o long, rid long, v long")
    got = {
        r["rid"]: r["filled"]
        for r in forward_fill(df, "k", ["o", "rid"], "v", "filled").collect()
    }
    pdf = pd.DataFrame(data, columns=["k", "o", "rid", "v"]).sort_values(["k", "o", "rid"])
    pdf["filled"] = pdf.groupby("k")["v"].ffill()
    for _, r in pdf.iterrows():
        want = None if pd.isna(r["filled"]) else int(r["filled"])
        assert got[int(r["rid"])] == want


# ---------------------------------------------------------------------------
# Real-codec roundtrip properties (round 13): the PNG and WAV encode/decode
# pairs are independent spec implementations (encoder filters against RAW
# neighbors, decoder against RECONSTRUCTED ones; RIFF walker is chunk-order
# agnostic) — hypothesis drives them with arbitrary content, dimensions,
# filter schedules, PCM shapes, and junk chunks. Pure-Python (no Spark job
# per example), so example counts run high.
# ---------------------------------------------------------------------------

CODEC_SETTINGS = settings(max_examples=120, deadline=None)


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=30),
    data=st.data(),
)
@CODEC_SETTINGS
def test_png_codec_roundtrip_property(w, h, data):
    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
        make_png_gray,
    )

    lines = [
        bytes(data.draw(st.lists(st.integers(0, 255), min_size=w, max_size=w)))
        for _ in range(h)
    ]
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    payload = make_png_gray(lines, filter_for_row=lambda r: filters[r])
    assert decode_png_pixels(payload) == (w, h, b"".join(lines))


@given(
    body=st.binary(min_size=0, max_size=500),
    channels=st.integers(min_value=1, max_value=8),
    rate=st.sampled_from([8000, 11025, 22050, 44100, 48000]),
    bits=st.sampled_from([8, 16, 32]),
)
@CODEC_SETTINGS
def test_wav_codec_roundtrip_property(body, channels, rate, bits):
    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_wav_header,
        make_wav,
    )

    block = channels * (bits // 8)
    payload = make_wav(body, channels, rate, bits=bits)
    assert decode_wav_header(payload) == (channels, rate, bits, len(body) // block)


@given(
    body=st.binary(min_size=0, max_size=200),
    channels=st.integers(min_value=1, max_value=4),
    junk=st.lists(
        st.tuples(
            st.sampled_from([b"LIST", b"fact", b"bext", b"junk", b"cue "]),
            st.binary(min_size=0, max_size=31),
        ),
        min_size=1,
        max_size=4,
    ),
    positions=st.data(),
)
@CODEC_SETTINGS
def test_wav_parser_tolerates_junk_chunks_property(body, channels, junk, positions):
    """Splicing arbitrary well-formed extra chunks (odd sizes padded, any
    position between the top-level chunks) never changes what the chunk
    walk extracts — the parser reads genuine RIFF files, not a fixed
    layout."""
    import struct

    from nyc_open_data_pipeline_spark.functions.multimodal import (
        decode_wav_header,
        make_wav,
    )

    base = make_wav(body, channels, 16000)
    want = decode_wav_header(base)
    # split the container back into its top-level chunks
    chunks = []
    i = 12
    while i + 8 <= len(base):
        _tag, size = struct.unpack("<4sI", base[i : i + 8])
        end = i + 8 + size + (size % 2)
        chunks.append(base[i:end])
        i = end
    for tag, payload in junk:
        blob = struct.pack("<4sI", tag, len(payload)) + payload
        if len(payload) % 2:
            blob += b"\x00"
        pos = positions.draw(st.integers(0, len(chunks)))
        chunks.insert(pos, blob)
    spliced_body = b"".join(chunks)
    spliced = struct.pack("<4sI4s", b"RIFF", 4 + len(spliced_body), b"WAVE") + spliced_body
    assert decode_wav_header(spliced) == want


@given(
    w=st.integers(min_value=1, max_value=64),
    h=st.integers(min_value=1, max_value=40),
    data=st.data(),
)
@CODEC_SETTINGS
def test_png_vectorized_paths_bit_identical(w, h, data):
    """Round-14 optimization (guide §4.2): the PNG filter/unfilter passes
    dispatch to numpy above _PNG_VEC_MIN_PX pixels. The two paths must be
    BIT-identical — same filtered stream out of the encoder, same pixels
    out of the decoder — for arbitrary content, dimensions and filter
    schedules; the oracle hash-checks mm5 end to end, so any divergence
    on the numpy path would otherwise only surface at real image sizes
    the fixture corpus never reaches."""
    import struct
    import zlib

    from nyc_open_data_pipeline_spark.functions import multimodal as MM

    lines = [
        bytes(data.draw(st.lists(st.integers(0, 255), min_size=w, max_size=w)))
        for _ in range(h)
    ]
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))

    def idat_of(payload: bytes) -> bytes:
        pos, out = 8, b""
        while pos + 8 <= len(payload):
            ln, ct = struct.unpack(">I4s", payload[pos : pos + 8])
            if ct == b"IDAT":
                out += payload[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
        return zlib.decompress(out)

    saved = MM._PNG_VEC_MIN_PX  # plain set/restore: hypothesis reuses the
    try:                        # test function across examples, so a
        MM._PNG_VEC_MIN_PX = 1  # function-scoped fixture would not reset
        png_np = MM.make_png_gray(lines, filter_for_row=lambda r: filters[r])
        dec_np = MM.decode_png_pixels(png_np)
        MM._PNG_VEC_MIN_PX = 1 << 60  # force loops
        png_loop = MM.make_png_gray(lines, filter_for_row=lambda r: filters[r])
        dec_loop = MM.decode_png_pixels(png_loop)
        assert idat_of(png_np) == idat_of(png_loop)  # identical filtered stream
        assert dec_np == dec_loop == (w, h, b"".join(lines))
        # cross-path: loop-encoded decodes through the numpy unfilter too
        MM._PNG_VEC_MIN_PX = 1
        assert MM.decode_png_pixels(png_loop) == dec_loop
    finally:
        MM._PNG_VEC_MIN_PX = saved


def test_png_vectorized_above_threshold_roundtrip():
    """A real-image-sized PNG (above the dispatch threshold on the default
    config, so the numpy path runs without monkeypatching) roundtrips
    exactly through encode -> decode with every filter type in play."""
    import numpy as np

    from nyc_open_data_pipeline_spark.functions import multimodal as MM

    rng = np.random.default_rng(1234)
    h, w = 96, 80  # 7680 px >= _PNG_VEC_MIN_PX
    px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    lines = [bytes(r) for r in px]
    payload = MM.make_png_gray(lines, filter_for_row=lambda r: r % 5)
    assert MM.decode_png_pixels(payload) == (w, h, b"".join(lines))
