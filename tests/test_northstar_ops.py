"""Quality tests for the non-SQL-expressible operators: ANN recall vs brute
force, SimHash behavior on true near-dups, as-of join vs pandas oracle,
multimodal feature plumbing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from demo_otel_parquet_antalya_spark.operators import asof, dedup, multimodal, similarity
from demo_otel_parquet_antalya_spark.plans.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def _queries(emb, n=10):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_lsh_recall_vs_bruteforce(spark, emb):
    q = _queries(emb)
    exact = _topk_sets(similarity.cosine_topk(emb, q, k=5))
    # this corpus's true neighbors are distant (max cosine ~0.5), so short
    # signatures + many tables are needed for recall; at scale the knobs
    # trade probe cost vs recall per-corpus
    approx = _topk_sets(similarity.lsh_topk(emb, q, k=5, n_tables=16, n_planes=4))
    hits = sum(len(exact[qid] & approx.get(qid, set())) for qid in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.5, f"LSH recall {recall:.2f} below floor"


def test_ivf_recall_vs_bruteforce(spark, emb):
    q = _queries(emb)
    exact = _topk_sets(similarity.cosine_topk(emb, q, k=5))
    approx = _topk_sets(similarity.ivf_topk(emb, q, k=5, n_centroids=8, nprobe=4))
    hits = sum(len(exact[qid] & approx.get(qid, set())) for qid in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_simhash_flags_true_near_dups(spark, docs):
    """Construct guaranteed near-identical docs: copies with one token changed.
    SimHash must put them within small hamming distance; unrelated docs far."""
    base = docs.limit(5).select("doc_id", "text")
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    both = base.unionByName(mutated)
    pairs = dedup.simhash_near_pairs(both, max_hamming=8, blocks=16).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    for r in base.collect():
        assert (r.doc_id, r.doc_id + 100000) in found, f"near-dup pair for {r.doc_id} missed"


def test_minhash_matches_exact_jaccard(spark, docs):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    mh = {(r.id_a, r.id_b) for r in dedup.minhash_dedup_pairs(docs, threshold=0.9).collect()}
    assert mh == exact


def test_exact_dedup_removes_injected_dups(spark, docs):
    dup = docs.limit(7).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    kept = dedup.exact_dedup(both)
    assert kept.count() == docs.count()
    # canonical row is the min id -> none of the injected ids survive
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0


def test_asof_grouped_matches_pandas(spark):
    events = load_table(spark, SF, "events")
    left = events.select("user_id", "ts", "event_id")
    right = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("rts"), "value"
    )
    got = (
        asof.asof_join_grouped(left, right, on="user_id", left_ts="ts", right_ts="rts",
                               right_value_cols=["value"])
        .orderBy("event_id")
        .toPandas()
    )
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("rts")
    expect = []
    for _, row in lp.iterrows():
        cand = rp[(rp.user_id == row.user_id) & (rp.rts <= row.ts)]
        expect.append(cand.iloc[-1]["value"] if len(cand) else None)
    lp = lp.assign(expect=expect).sort_values("event_id")
    got = got.sort_values("event_id")
    for g, e in zip(got["value"].tolist(), lp["expect"].tolist()):
        if e is None or pd.isna(e):
            assert g is None or pd.isna(g)
        else:
            assert g == e


def test_multimodal_feature_plumbing(spark, docs):
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media)
    rows = feats.orderBy("media_id").limit(10).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.n_bytes > 0
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-6  # normalized histogram
    # determinism: same input -> same checksum
    again = feats.orderBy("media_id").limit(10).collect()
    assert [r.checksum for r in rows] == [r.checksum for r in again]


def test_multimodal_real_decode_is_explicit_gap(spark, docs):
    media = multimodal.documents_as_media(docs)
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(media, decode_stub=False)
    # resize and sample_frames decode PNG/GIF/JPEG/AVI for real, so their
    # remaining NotImplementedError is per-payload inside the executor
    # (these text payloads match no real codec; surfaces on collect,
    # wrapped by Spark)
    with pytest.raises(Exception, match="codec"):
        multimodal.sample_frames(media, decode_stub=False).collect()
    with pytest.raises(Exception, match="codec"):
        multimodal.resize(media, decode_stub=False).collect()


def test_multimodal_resize_size_contract(spark, docs):
    media = multimodal.documents_as_media(docs.filter(F.length(F.trim("text")) > 0))
    out = multimodal.resize(media, width=32, height=16).limit(20).collect()
    assert len(out) == 20
    for r in out:
        assert len(r.payload) == 32 * 16 and r.width == 32 and r.height == 16


def test_multimodal_frame_sampling_fanout(spark, docs):
    media = multimodal.documents_as_media(docs)
    frames = multimodal.sample_frames(media, every_n_bytes=64, max_frames=4)
    pdf = frames.filter(F.col("media_id") < 5).orderBy("media_id", "frame_idx").toPandas()
    by_id = pdf.groupby("media_id").frame_idx.agg(["min", "max", "count"])
    for _, row in by_id.iterrows():
        assert row["min"] == 0 and row["count"] == row["max"] + 1  # dense 0..n
        assert row["count"] <= 4
    # frames re-extract features downstream exactly like whole payloads
    feat_in = pdf.rename(columns={"frame": "payload"})[["media_id", "payload"]]
    refeat = multimodal.extract_features(
        spark.createDataFrame(feat_in.assign(media_id=range(len(feat_in))))
    )
    assert refeat.count() == len(feat_in)


def test_connected_components_chain_and_triangle(spark, broadcast_disabled):
    """A 4-node chain (worst-case diameter) and a triangle must each collapse
    to one cluster labeled by the min id; disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {(r.id, r.cluster_id) for r in dedup.connected_components(pairs).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20)}
    assert got == want
    # the partitioned-state path (label table past the derived broadcast
    # limit: persist()ed edge layout + shuffle_hash state joins) must
    # compute the identical clustering
    with broadcast_disabled():
        big = {
            (r.id, r.cluster_id) for r in dedup.connected_components(pairs).collect()
        }
    assert big == want


def test_connected_components_observed_convergence(spark):
    """The r14 observe-fused convergence sum (the per-round label-multiset
    hash rides the checkpoint materialization instead of a second pass)
    must leave results and early termination intact: a single-cluster
    clique converges in round 1 + one observed no-change round, a
    max_iter=1 run on a diameter-4 chain returns the (correct-by-
    pointer-jumping) partial labels without blocking on the observation,
    and the empty-graph guard returns before any round (no metric is ever
    awaited on a frame AQE could empty-propagate away)."""
    clique = spark.createDataFrame(
        [(5, 6), (6, 7), (5, 7)], "id_a long, id_b long"
    )
    assert {
        (r.id, r.cluster_id) for r in dedup.connected_components(clique).collect()
    } == {(5, 5), (6, 5), (7, 5)}

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    one_round = {
        (r.id, r.cluster_id)
        for r in dedup.connected_components(chain, max_iter=1).collect()
    }
    # one least(own, min-neighbor) hop from identity labels (the pointer
    # jump is a no-op in round 1: the lookup table is still the identity)
    assert one_round == {(1, 1), (2, 1), (3, 2), (4, 3), (5, 4)}

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(empty).collect() == []


def test_connected_components_random_graphs_match_union_find(spark):
    """Randomized cross-check: distributed label propagation must agree with
    a pure-python union-find on arbitrary edge sets (bounded size — each
    example runs real Spark jobs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edges_strategy = st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(edges_strategy)
    def check(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        want = {x: find(x) for x in parent}

        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
        )
        got = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
        assert got == want

    check()


def test_operators_handle_empty_inputs(spark):
    """Degenerate inputs must yield empty results, not errors — a 100 TB
    job's per-partition slices routinely include empty key groups."""
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [float(i) for i in range(64)])], "query_id long, query_vec array<float>"
    )

    assert dedup.ngram_jaccard_pairs(empty_docs).count() == 0
    assert dedup.minhash_dedup_pairs(empty_docs).count() == 0
    assert dedup.exact_dedup(empty_docs).count() == 0
    assert dedup.connected_components(empty_pairs).count() == 0
    assert similarity.cosine_topk(empty_vecs, q).count() == 0
    cents, hist = similarity.kmeans_refine_centroids(empty_vecs)
    assert cents.columns == ["cid", "cv", "ncv"] and cents.count() == 0 and hist == []
    assert similarity.ivf_topk(empty_vecs, q).count() == 0
    assert similarity.cosine_topk_int8(empty_vecs, q).count() == 0
    assert similarity.lsh_topk(empty_vecs, q).count() == 0


def test_cosine_pairs_guard_refuses_large_input(spark, emb):
    """The quadratic all-pairs baseline must refuse corpora past the guard
    threshold unless explicitly forced (it exists as MinHash/LSH's oracle,
    not as a scale path)."""
    import demo_otel_parquet_antalya_spark.operators.dedup as D

    orig = D.MAX_COSINE_PAIRS_ROWS
    D.MAX_COSINE_PAIRS_ROWS = 5  # emb has more rows than this
    try:
        with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
            dedup.embedding_cosine_pairs(emb).count()
        # force=True bypasses the guard and still computes correct pairs
        forced = dedup.embedding_cosine_pairs(
            emb.filter(F.col("vec_id") < 20), threshold=-1.0, force=True
        )
        n = emb.filter(F.col("vec_id") < 20).count()
        assert forced.count() == n * (n - 1) // 2
    finally:
        D.MAX_COSINE_PAIRS_ROWS = orig


def test_int8_recall_vs_bruteforce(spark, emb):
    """SQ8 quantization should barely move 64-dim cosine ranks: recall@5
    well above the LSH/IVF floors, since the only error is 8-bit rounding."""
    q = _queries(emb)
    exact = _topk_sets(similarity.cosine_topk(emb, q, k=5))
    approx = _topk_sets(similarity.cosine_topk_int8(emb, q, k=5))
    hits = sum(len(exact[qid] & approx.get(qid, set())) for qid in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.9, f"int8 recall {recall:.2f} below floor"


def test_parse_image_headers_real_decode(spark):
    """The header decoder is REAL: hand-built valid PNG and JPEG byte
    streams must yield their true dimensions; junk degrades to NULLs."""
    import struct
    import zlib

    def png(w, h):
        ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr))
            + chunk
            + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
        )

    def jpeg(w, h):
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3) + b"\x00" * 9
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    rows = [
        (1, png(640, 480)),
        (2, jpeg(1024, 768)),
        (3, b"not an image at all"),
        (4, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r.media_id: (r.mime_detected, r.width, r.height)
        for r in multimodal.parse_image_headers(media).collect()
    }
    assert got[1] == ("image/png", 640, 480)
    assert got[2] == ("image/jpeg", 1024, 768)
    assert got[3] == (None, None, None)
    assert got[4] == (None, None, None)


def test_hll_rollup_merge_accuracy(spark):
    """Merging hourly HLL sketches to daily uniques must track the exact
    per-day distinct count within sketch tolerance — the re-aggregation
    path cannot silently drift."""
    from demo_otel_parquet_antalya_spark.plans import QUERIES
    from demo_otel_parquet_antalya_spark.plans.tables import load_table

    approx = {
        r.day: r.approx_users
        for r in QUERIES["approx_hll_rollup_merge"].build(spark, SF).collect()
    }
    ev = load_table(spark, SF, "events")
    exact = {
        r.day: r.n
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for day, n in exact.items():
        assert abs(approx[day] - n) / n < 0.05, (day, approx[day], n)


def test_line_level_scrub_newline_path(spark):
    """The RefinedWeb physical-line path ('\\n' delimiter): every occurrence
    of a cross-doc duplicated line is dropped, survivors keep original order,
    and docs that lost nothing (or kept nothing) are absent."""
    from demo_otel_parquet_antalya_spark.operators import dedup

    rows = [
        (1, "alpha beta\nSHARED LINE ONE\ngamma delta"),
        (2, "SHARED LINE ONE\nepsilon zeta\nSHARED LINE ONE"),
        (3, "unique only\nnothing shared here"),
        (4, "SHARED LINE ONE"),  # loses its only line -> kept 0 -> absent
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_kept_lines, r.clean_text)
        for r in dedup.line_level_scrub(docs, delimiter="\n").collect()
    }
    assert got == {
        1: (2, "alpha beta gamma delta"),
        2: (1, "epsilon zeta"),
    }
    stats = {
        r.doc_id: (r.n_lines, r.n_dup_lines)
        for r in dedup.line_level_stats(docs, delimiter="\n").collect()
    }
    assert stats == {1: (3, 1), 2: (3, 2), 4: (1, 1)}


def test_line_windows_fixed_width_covers_all_tokens(spark):
    """Fixed-width segmentation partitions the token sequence exactly:
    concatenating the lines reproduces the normalized document."""
    from demo_otel_parquet_antalya_spark.operators import dedup
    from demo_otel_parquet_antalya_spark.plans.tables import load_table

    docs = load_table(spark, SF, "documents").limit(50)
    lines = dedup.line_windows(docs, line_tokens=12)
    rebuilt = lines.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s.getField("line"),
            ),
        ).alias("re")
    )
    orig = docs.select("doc_id", F.regexp_replace(F.trim("text"), r"\s+", " ").alias("t"))
    bad = rebuilt.join(orig, "doc_id").filter(F.col("re") != F.col("t")).count()
    assert bad == 0


def test_hashed_classifier_properties(spark):
    """Hashing-trick classifier: weights land in [-0.5, 0.5), scoring is
    deterministic across runs, and the logit equals the plain-Python
    re-computation of the same hash math."""
    import hashlib

    from demo_otel_parquet_antalya_spark.functions import text as tx

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "jumps over the lazy dog")],
        "doc_id long, text string",
    )
    out = docs.select("doc_id", tx.hashed_linear_logit(F.col("text")).alias("logit"))
    got = {r.doc_id: r.logit for r in out.collect()}
    again = {r.doc_id: r.logit for r in out.collect()}
    assert got == again

    def w(tok):
        b = int(hashlib.md5(tok.encode()).hexdigest()[:6], 16) % 4096
        return ((b * 2654435761) % 8192) / 8192.0 - 0.5

    for doc_id, text in [(1, "the quick brown fox"), (2, "jumps over the lazy dog")]:
        toks = text.split()
        expect = sum(w(t) for t in toks) / len(toks)
        assert abs(got[doc_id] - expect) < 1e-12
        assert all(-0.5 <= w(t) < 0.5 for t in toks)


def test_eval_contamination_disjoint_and_flagged(spark):
    """The contamination audit only reports train-side neighbors, one per
    eval vector, and flags exactly the pairs at/above the threshold."""
    from demo_otel_parquet_antalya_spark.plans import QUERIES

    rows = QUERIES["similarity_eval_contamination"].build(spark, SF).collect()
    assert len(rows) == len({r.query_id for r in rows})  # one per eval id
    for r in rows:
        assert r.query_id < 10 and r.neighbor_id >= 10
        assert r.verdict == ("contaminated" if r.sim >= 0.45 else "clean")


def test_cluster_density_clique_vs_chain(spark):
    """A triangle must report density 1.0 / 'clique'; a 4-node path must
    report 3 edges over 6 possible = 0.5 / 'partial'."""
    from demo_otel_parquet_antalya_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (11, 12), (12, 13)],
        "id_a long, id_b long",
    )
    got = {
        r.cluster_id: (r.n_nodes, r.n_edges, r.density, r.shape)
        for r in dedup.cluster_density(pairs).collect()
    }
    assert got == {
        1: (3, 3, 1.0, "clique"),
        10: (4, 3, 0.5, "partial"),
    }


def test_parse_audio_headers_real_decode(spark):
    """Hand-built canonical WAV bytes decode to the right rate/channels/
    depth/duration; garbage and NULLs degrade to NULL rows."""
    import struct

    from demo_otel_parquet_antalya_spark.operators import multimodal

    def wav(rate, ch, bits, n_frames):
        data_len = n_frames * ch * (bits // 8)
        fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", data_len) + b"\x00" * data_len
        return b"RIFF" + struct.pack("<I", len(body)) + body

    rows = [
        (1, wav(16000, 1, 16, 16000)),   # exactly 1 s mono
        (2, wav(44100, 2, 16, 22050)),   # 0.5 s stereo
        (3, b"ID3\x03not a wav"),
        (4, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r.media_id: (r.mime_detected, r.sample_rate, r.channels, r.bits_per_sample, r.duration_ms)
        for r in multimodal.parse_audio_headers(media).collect()
    }
    assert got[1] == ("audio/wav", 16000, 1, 16, 1000)
    assert got[2] == ("audio/wav", 44100, 2, 16, 500)
    assert got[3] == (None, None, None, None, None)
    assert got[4] == (None, None, None, None, None)


def test_kmeans_refine_monotone_and_improves_recall(spark, emb):
    """Spherical k-means refinement: the mean-cosine objective must be
    non-decreasing every Lloyd iteration, and IVF probing with refined
    centroids must not lose recall vs the hash-sampled initialization."""
    cents, hist = similarity.kmeans_refine_centroids(emb, n_centroids=16, n_iters=4)
    for a, b in zip(hist, hist[1:]):
        assert b >= a - 1e-9, hist
    assert hist[-1] > hist[0]  # it actually moved
    assert cents.count() <= 16

    q = _queries(emb)
    exact = _topk_sets(similarity.cosine_topk(emb, q, k=5))

    def recall(approx):
        hits = sum(len(exact[qid] & approx.get(qid, set())) for qid in exact)
        return hits / sum(len(v) for v in exact.values())

    base = recall(_topk_sets(similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4)))
    refined = recall(
        _topk_sets(
            similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4, centroids=cents)
        )
    )
    assert refined >= base - 1e-9, (base, refined)


def test_parse_video_headers_real_decode(spark):
    """Hand-built minimal MP4 boxes decode to the right duration/timescale/
    track count (v0 and v1 mvhd variants); garbage and NULLs degrade."""
    import struct

    from demo_otel_parquet_antalya_spark.operators import multimodal

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    def mp4(timescale, duration, n_tracks, v=0):
        if v == 0:
            mvhd = box(b"mvhd", b"\x00" * 12 + struct.pack(">II", timescale, duration) + b"\x00" * 80)
        else:
            mvhd = box(b"mvhd", b"\x01" + b"\x00" * 19 + struct.pack(">IQ", timescale, duration) + b"\x00" * 80)
        traks = b"".join(box(b"trak", b"\x00" * 8) for _ in range(n_tracks))
        return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + box(b"moov", mvhd + traks)

    rows = [
        (1, mp4(1000, 2500, 2)),        # 2.5 s, 2 tracks, v0
        (2, mp4(90000, 90000 * 3, 1, v=1)),  # 3 s, 1 track, v1 64-bit
        (3, b"RIFF not an mp4 \x00\x00"),
        (4, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r.media_id: (r.mime_detected, r.duration_ms, r.timescale, r.n_tracks)
        for r in multimodal.parse_video_headers(media).collect()
    }
    assert got[1] == ("video/mp4", 2500, 1000, 2)
    assert got[2] == ("video/mp4", 3000, 90000, 1)
    assert got[3] == (None, None, None, None)
    assert got[4] == (None, None, None, None)


def test_hashing_embeddings_feed_the_similarity_tier(spark):
    """The model-free hashing embeddings must flow straight into the cosine
    top-k kernel, and near-duplicate documents (which share most shingles)
    must rank closer than unrelated ones."""
    from demo_otel_parquet_antalya_spark.functions import text as tx2
    from demo_otel_parquet_antalya_spark.plans.tables import load_table

    docs = load_table(spark, SF, "documents").limit(80)
    sh = F.array_distinct(tx2.word_shingles("text", n=3))

    def bucket(s):
        return F.conv(F.substring(F.md5(s), 1, 4), 16, 10).cast("long") % 16

    def sign(s):
        return F.when(
            F.conv(F.substring(F.md5(s), 5, 1), 16, 10).cast("long") % 2 == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.aggregate(
            F.col("sh"), F.lit(0.0),
            lambda acc, s: acc + F.when(bucket(s) == i.cast("long"), sign(s)).otherwise(0.0),
        ),
    )
    emb = (
        docs.select(F.col("doc_id").alias("vec_id"), sh.alias("sh"))
        .filter(F.size("sh") > 0)
        .select("vec_id", vec.alias("embedding"))
    )
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = similarity.cosine_topk(emb, queries, k=3)
    assert topk.count() == 9  # 3 queries x top-3, straight through the kernel
    assert topk.filter(F.col("sim") > 1.0001).count() == 0


def test_distributed_prefix_sums_match_driver_side(spark):
    """The two-pass parallel prefix sum must equal a plain driver-side
    cumulative over the same ordered rows, across many partitions."""
    from demo_otel_parquet_antalya_spark.operators import stats

    rows = [(float(v), (v * 7) % 5, (v * 3) % 4) for v in range(500)]
    df = spark.createDataFrame(rows, "k double, a long, b long").repartition(16)
    got = {
        r.k: (r.cum_a, r.cum_b)
        for r in stats.prefix_sums(df, "k", ["a", "b"], num_partitions=8).collect()
    }
    ca = cb = 0
    for v, a, b in rows:  # already in k order
        ca += a
        cb += b
        assert got[v] == (ca, cb), v


def test_ks_statistic_matches_reference_implementation(spark):
    """ks_two_sample equals the straightforward single-machine computation
    on a frame with heavy value ties."""
    from demo_otel_parquet_antalya_spark.operators import stats

    rows = [(float(i % 13), 1 if i % 2 == 0 else 0) for i in range(400)]
    df = spark.createDataFrame(rows, "value double, is_ref long")
    got = stats.ks_two_sample(df, "value", "is_ref").first()

    ref = sorted(v for v, f in rows if f == 1)
    cur = sorted(v for v, f in rows if f == 0)
    pooled = sorted(set(ref) | set(cur))
    import bisect
    d = max(
        abs(bisect.bisect_right(ref, x) / len(ref) - bisect.bisect_right(cur, x) / len(cur))
        for x in pooled
    )
    assert got.n_ref == len(ref) and got.n_cur == len(cur)
    assert abs(got.ks_d - round(d, 6)) < 1e-9


def test_prefix_sums_composite_key_with_first_key_ties(spark):
    """The multi-column order key must cumulate in exact (k1, k2) order even
    when k1 ties straddle range-partition boundaries — the tie-broken rank
    shape select_token_budget depends on."""
    from demo_otel_parquet_antalya_spark.operators import stats

    # only 4 distinct k1 values over 400 rows -> every partition boundary
    # lands inside a k1 tie run; k2 makes the composite key unique
    rows = [(i % 4, i, 1 + (i % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "k1 long, k2 long, c long").repartition(16)
    got = {
        (r.k1, r.k2): r.cum_c
        for r in stats.prefix_sums(df, ["k1", "k2"], ["c"], num_partitions=8).collect()
    }
    acc = 0
    for k1, k2, c in sorted(rows):
        acc += c
        assert got[(k1, k2)] == acc, (k1, k2)


def test_select_by_budget_boundary_is_exclusive_of_straddler(spark):
    """An item whose cost would cross the budget is dropped even when
    better-ranked items left budget headroom (greedy prefix, no knapsack
    backfill), and a first item larger than the whole budget selects
    nothing."""
    from pyspark.sql import functions as F

    from demo_otel_parquet_antalya_spark.operators import stats

    rows = [(1, 10, 4), (2, 20, 3), (3, 30, 2), (4, 5, 1)]  # rank asc = best first
    df = spark.createDataFrame(rows, "id long, cost long, rank long")

    budget = spark.createDataFrame([(32,)], "budget long")
    picked = sorted(
        r.id for r in stats.select_by_budget(df, ["rank", "id"], "cost", budget).collect()
    )
    # rank order is id 4 (5), 3 (30), 2 (20), 1 (10): 5+30=35 > 32, so the
    # straddling id=3 and everything after it is out — greedy prefix only
    assert picked == [4]

    tiny = spark.createDataFrame([(4,)], "budget long")
    assert stats.select_by_budget(df, ["rank", "id"], "cost", tiny).count() == 0


def test_prefix_sums_property_random_keys_and_costs(spark):
    """Property check over adversarial key distributions: heavy first-key
    skew, negative costs, and partition counts that don't divide the data
    evenly — the global cumulate must always equal the driver-side fold."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from demo_otel_parquet_antalya_spark.operators import stats

    @settings(max_examples=10, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),  # skewed first key
                st.integers(min_value=-50, max_value=50),  # costs may be negative
            ),
            min_size=1,
            max_size=60,
        ),
        parts=st.integers(min_value=1, max_value=7),
    )
    def check(rows, parts):
        uniq = [(k1, i, c) for i, (k1, c) in enumerate(rows)]  # i = unique tie-break
        df = spark.createDataFrame(uniq, "k1 long, k2 long, c long")
        got = {
            (r.k1, r.k2): r.cum_c
            for r in stats.prefix_sums(df, ["k1", "k2"], ["c"], num_partitions=parts).collect()
        }
        acc = 0
        for k1, k2, c in sorted(uniq):
            acc += c
            assert got[(k1, k2)] == acc

    check()


def test_pq_recall_and_determinism(spark, emb):
    """PQ-ADC with exact re-rank: shortlist depth (not quantization error)
    sets recall; two runs are bit-identical (hash-ordered training sample,
    float64 Lloyd, deterministic argmin)."""
    q = _queries(emb)
    exact = _topk_sets(similarity.cosine_topk(emb, q, k=5))
    run1 = similarity.pq_topk_refined(emb, q, k=5, m=8, n_codes=64)
    approx = _topk_sets(run1)
    hits = sum(len(exact[qid] & approx.get(qid, set())) for qid in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.7, f"PQ+rerank recall {recall:.2f} below floor"
    a = sorted(map(tuple, run1.collect()))
    b = sorted(map(tuple, similarity.pq_topk_refined(emb, q, k=5, m=8, n_codes=64).collect()))
    assert a == b


def test_pq_codes_shape_and_compression(spark, emb):
    books = similarity.train_pq_codebooks(emb, m=8, n_codes=16)
    assert books.shape == (8, 16, 8)  # dim 64 / m 8
    enc = similarity.pq_encode(emb, books)
    row = enc.first()
    assert len(row.codes) == 8
    assert all(0 <= c < 16 for c in row.codes)
    # every corpus vector is encoded exactly once
    assert enc.count() == emb.count()


def test_kll_quantile_rollup_rank_error_bound(spark):
    """Daily percentiles read from merged hourly KLL sketches must satisfy
    the published rank-error contract: the returned value's true rank lies
    within eps of the requested rank (k=256 -> eps ~ 1.3%; assert 3%)."""
    from demo_otel_parquet_antalya_spark.plans import QUERIES
    from demo_otel_parquet_antalya_spark.plans.tables import load_table

    rows = QUERIES["approx_kll_quantile_rollup"].build(spark, SF).collect()
    ev = load_table(spark, SF, "events")
    by_day = {
        r.day: sorted(v for v in r.vals)
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.collect_list("value").alias("vals"))
        .collect()
    }
    assert {r.day for r in rows} == set(by_day)
    eps = 0.03
    for r in rows:
        vals = by_day[r.day]
        n = len(vals)
        for q, got in ((0.5, r.p50), (0.95, r.p95), (0.99, r.p99)):
            true_rank = sum(1 for v in vals if v <= got) / n
            assert abs(true_rank - q) <= eps + 1.0 / n, (r.day, q, got, true_rank)


def test_ppjoin_equals_posting_list_baseline(spark, docs):
    """PPJoin prefix filtering is exact: identical pair set and jaccard
    values to the full posting-list join, at two thresholds."""
    for t in (0.9, 0.7):
        base = sorted(
            map(tuple, dedup.ngram_jaccard_pairs(docs, threshold=t).collect())
        )
        pp = sorted(
            map(tuple, dedup.jaccard_pairs_ppjoin(docs, threshold=t).collect())
        )
        assert pp == base, f"threshold {t}"


def test_containment_catches_embedded_quote(spark):
    """A short doc wholly quoted inside a long doc has tiny Jaccard but
    containment ~1.0 — the asymmetric measure must find the pair and the
    symmetric one must miss it."""
    quote = " ".join(f"q{i}" for i in range(20))
    filler = " ".join(f"f{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote}")], "doc_id long, text string"
    )
    sh = dedup.shingle_sets(df, "doc_id", "text", 3)
    sizes = {r.id: r.n for r in sh.groupBy("id").agg(F.count("*").alias("n")).collect()}
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .count()
    )
    containment = inter / min(sizes[1], sizes[2])
    jaccard = inter / (sizes[1] + sizes[2] - inter)
    assert containment >= 0.85
    assert jaccard < 0.1


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee ff gg".split()), min_size=5, max_size=14),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.5, 0.8]),
)
def test_ppjoin_matches_bruteforce_property(spark, word_lists, threshold):
    """PPJoin prefix filtering loses no pair for ANY corpus/threshold —
    tiny repeated vocab maximizes shared shingles and prefix-tie stress."""
    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    want = set()
    for i, ta in docs:
        for j, tb in docs[i + 1 :]:
            sa, sb = shingles(ta), shingles(tb)
            inter = len(sa & sb)
            jac = inter / (len(sa) + len(sb) - inter)
            if round(jac, 6) >= threshold:
                want.add((i, j, round(jac, 6)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.jaccard_pairs_ppjoin(df, threshold=threshold).collect()
    }
    assert got == want


def test_ppjoin_fp_safe_prefix_bound(spark):
    """Regression (ADVICE r4): ceil(t * n) on doubles can round past the
    exact integer (0.54 * 450 -> 243.000...003, ceil 244), shortening the
    prefix below the pigeonhole bound. With A = 450 distinct shingles and
    B a contiguous 243-shingle sub-document (Jaccard exactly 0.54), the
    one-short prefix contains zero shared shingles and the qualifying
    pair silently vanishes; the epsilon-guarded ceil must find it."""
    assert float(0.54 * 450) > 243.0  # the FP hazard this test pins
    toks = [f"w{i:04d}" for i in range(452)]
    a_text = " ".join(toks)  # 450 shingles, all distinct
    b_text = " ".join(toks[:245])  # 243 shingles, all shared with A
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    got = dedup.jaccard_pairs_ppjoin(df, threshold=0.54).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 0.54)]


def test_pq_train_small_corpus_raises(spark):
    """Regression (ADVICE r4): a corpus smaller than n_codes must raise a
    clear ValueError, not a numpy broadcast error downstream."""
    few = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="n_codes"):
        similarity.train_pq_codebooks(few, m=2, n_codes=16)
    empty = few.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="n_codes"):
        similarity.train_pq_codebooks(empty, m=2, n_codes=16)


def test_prefix_sums_partition_count_invariance(spark):
    """Results must be identical at 8/32/64 partitions AND with the default
    (defaultParallelism-derived) count — the scale knob changes parallelism
    only, never values (VERDICT r4 #3 / r5 directive 5)."""
    from demo_otel_parquet_antalya_spark.operators import stats

    rows = [((v * 13) % 101, 1 + (v % 9)) for v in range(300)]
    uniq = [(k, i, c) for i, (k, c) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "k long, i long, c long").repartition(16)

    def run(**kw):
        return {
            (r.k, r.i): r.cum_c
            for r in stats.prefix_sums(df, ["k", "i"], ["c"], **kw).collect()
        }

    base = run(num_partitions=8)
    assert run(num_partitions=32) == base
    assert run(num_partitions=64) == base
    assert run() == base  # default derives from defaultParallelism


def test_connected_components_string_ids(spark):
    """String ids must work end-to-end: the convergence check hashes labels
    (xxhash64) instead of numerically casting them — a decimal cast threw
    under ANSI / silently nulled otherwise (ADVICE r4 #1). Chain long
    enough that pointer jumping needs >1 round, so the early-exit check
    actually runs on string labels."""
    from demo_otel_parquet_antalya_spark.operators import dedup

    chain = [(f"doc-{i:02d}", f"doc-{i + 1:02d}") for i in range(9)]
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")
    got = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert got == {f"doc-{i:02d}": "doc-00" for i in range(10)}
