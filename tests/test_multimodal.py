"""Multimodal plumbing: Arrow-batched feature extraction over binary columns."""

from projet_graphdb_spark.functions import multimodal


def test_extract_features_schema_and_determinism(spark):
    media = multimodal.fake_media_table(spark, n=32)
    out1 = multimodal.extract_features(media)
    assert [f.name for f in out1.schema.fields] == ["media_id", "kind", "n_bytes", "features"]
    rows1 = {r["media_id"]: r["features"] for r in out1.collect()}
    rows2 = {r["media_id"]: r["features"] for r in multimodal.extract_features(media).collect()}
    assert rows1 == rows2  # content-hash-seeded stub → reproducible
    assert all(len(v) == multimodal.FEATURE_DIM for v in rows1.values())
    # distinct payloads → distinct features
    assert len({tuple(v) for v in rows1.values()}) == len(rows1)


def test_frame_sample_plan(spark):
    media = multimodal.fake_media_table(spark, n=9)
    plan = multimodal.frame_sample_plan(media, every_n=10)
    rows = plan.collect()
    # 3 videos (kind cycle), 120 frames each, every 10th → 12 tasks each
    assert len(rows) == 3 * 12
    assert {r["frame_idx"] % 10 for r in rows} == {0}


def test_pack_decode_tasks_balanced(spark):
    from projet_graphdb_spark.functions.multimodal import fake_media_table, pack_decode_tasks

    media = fake_media_table(spark, n=60)
    target = 400
    rows = pack_decode_tasks(media, target_bytes=target).collect()
    by_bin = {}
    for r in rows:
        by_bin.setdefault((r["kind"], r["task_bin"]), []).append(r["n_bytes"])
    # greedy packing: a bin exceeds target by at most one payload, and
    # bins are dense per kind starting at 0
    for (kind, b), sizes in by_bin.items():
        assert sum(sizes) - max(sizes) < target, (kind, b, sizes)
    for kind in {r["kind"] for r in rows}:
        bins = sorted({b for (k, b) in by_bin if k == kind})
        assert bins == list(range(len(bins))), (kind, bins)


def test_thumbnail_plan_aspect_and_stub_cost(spark):
    from projet_graphdb_spark.functions.multimodal import thumbnail_plan

    media = spark.createDataFrame(
        [
            (1, "image", None, (1280, 720, None, None)),   # downscale
            (2, "image", None, (32, 20, None, None)),      # already fits: untouched
            (3, "image", None, (None, None, None, None)),  # missing dims -> nulls
            (4, "audio", None, (None, None, 16000, None)), # not an image -> dropped
            (5, "image", None, (2000, 10, None, None)),    # extreme aspect: >=1 px
        ],
        "media_id long, kind string, payload binary,"
        " meta struct<width:int,height:int,sample_rate:int,n_frames:int>",
    )
    got = {r["media_id"]: r for r in thumbnail_plan(media, max_side=64).collect()}
    assert set(got) == {1, 2, 3, 5}
    assert (got[1]["out_width"], got[1]["out_height"]) == (64, 36)
    assert got[1]["n_bytes_out"] == 64 * 36 * 3
    assert (got[2]["out_width"], got[2]["out_height"]) == (32, 20)
    assert got[3]["out_width"] is None and got[3]["n_bytes_out"] is None
    assert (got[5]["out_width"], got[5]["out_height"]) == (64, 1)


def test_audio_frame_plan_stft_grid(spark):
    media = spark.createDataFrame(
        [(1, "audio", 800), (2, "audio", 399), (3, "video", 4000)],
        "media_id long, kind string, n_samples long",
    )
    rows = multimodal.audio_frame_plan(media, width=400, hop=160).collect()
    # clip 2 is shorter than one frame, clip 3 is not audio
    assert {r["media_id"] for r in rows} == {1}
    # n=800, W=400, H=160 → starts 0,160,320 (480+400 > 800)
    assert [(r["frame_idx"], r["start_sample"], r["end_sample"]) for r in rows] == [
        (0, 0, 400), (1, 160, 560), (2, 320, 720),
    ]


def test_patch_grid_plan_row_major_offsets(spark):
    media = spark.createDataFrame(
        [(1, "image", 48, 32), (2, "image", 15, 64), (3, "audio", 64, 64)],
        "media_id long, kind string, width long, height long",
    )
    rows = multimodal.patch_grid_plan(media, patch=16).collect()
    assert {r["media_id"] for r in rows} == {1}  # 2 too narrow, 3 not image
    grid = {(r["grid_x"], r["grid_y"]): (r["px_x"], r["px_y"]) for r in rows}
    assert len(rows) == 6                       # 3 × 2 grid
    assert grid[(0, 0)] == (0, 0)
    assert grid[(2, 1)] == (32, 16)
    assert [r["patch_idx"] for r in sorted(rows, key=lambda r: r["patch_idx"])] == list(range(6))


def test_modality_interleave_round_robin(spark):
    media = spark.createDataFrame(
        [(1, "audio"), (2, "image"), (3, "video"), (4, "image"), (9, "text")],
        "media_id long, kind string",
    )
    rows = multimodal.modality_interleave_plan(media).collect()
    assert [r["kind"] for r in rows] == ["image", "audio", "video", "image"]
    assert [r["seq"] for r in rows] == [0, 1, 2, 3]  # unknown kind excluded


def test_augmentation_plan_deterministic_and_ranged(spark):
    media = spark.createDataFrame(
        [(1, "image"), (2, "audio")], "media_id long, kind string"
    )
    a = sorted(multimodal.augmentation_plan(media, epochs=3).collect(),
               key=lambda r: (r["media_id"], r["epoch"]))
    b = sorted(multimodal.augmentation_plan(media, epochs=3).collect(),
               key=lambda r: (r["media_id"], r["epoch"]))
    assert a == b                                   # retry-safe: no RNG state
    assert len(a) == 6                              # 2 media × 3 epochs
    for r in a:
        assert r["flip"] in (0, 1)
        assert 0 <= r["crop_x"] < 16 and 0 <= r["crop_y"] < 16
        assert r["rot_deg"] in (0, 90, 180, 270)
        assert -0.10 <= r["brightness"] <= 0.10
    # epochs differ (hash covers the epoch, not just the id)
    assert len({(r["flip"], r["crop_x"], r["crop_y"], r["rot_deg"]) for r in a}) > 1


def _py_dhash(payload: bytes) -> int:
    """Independent reference dHash (pure Python, exact int arithmetic)."""
    L = len(payload)
    cells = multimodal.DHASH_CELLS
    sums, ns = [], []
    for k in range(cells):
        a, b = k * L // cells, (k + 1) * L // cells
        blk = payload[a:b]
        sums.append(sum(blk))
        ns.append(len(blk))
    h = 0
    for r in range(multimodal.DHASH_ROWS):
        for c in range(multimodal.DHASH_COLS - 1):
            k = r * multimodal.DHASH_COLS + c
            if ns[k] and ns[k + 1] and sums[k] * ns[k + 1] > sums[k + 1] * ns[k]:
                h |= 1 << (r * (multimodal.DHASH_COLS - 1) + c)
    return h - (1 << 64) if h >= 1 << 63 else h


def test_dhash_table_matches_reference_and_edge_cases(spark):
    """dHash fingerprints equal the independent per-byte reference
    (exact integer cross-multiplied means), on payloads spanning the
    edge cases: empty, NULL, shorter than the grid, and a sign-bit
    exerciser; the id column's dtype passes through unchanged."""
    payloads = [
        (0, b""),
        (1, None),
        (2, b"abc"),                      # fewer bytes than cells
        (3, bytes(range(256)) * 5),       # monotone ramps
        (4, b"the quick brown fox jumps over the lazy dog" * 20),
        (5, bytes([255, 0] * 500)),       # alternating extremes
        (6, bytes([7]) * 72),             # exactly one byte per cell, all equal
    ]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")
    got = {r["media_id"]: r["dhash"] for r in multimodal.dhash_table(media).collect()}
    assert got == {i: _py_dhash(p or b"") for i, p in payloads}
    assert got[0] == 0 and got[1] == 0 and got[6] == 0  # no strict > anywhere
    # string ids pass through (round-12 id-dtype discipline)
    smedia = spark.createDataFrame(
        [("img-a", b"hello world" * 30)], "media_id string, payload binary"
    )
    st = multimodal.dhash_table(smedia)
    assert dict(st.dtypes) == {"media_id": "string", "dhash": "bigint"}
    assert st.first()["media_id"] == "img-a"


def test_dhash_pairs_exhaustive_and_banded(spark):
    """dhash_pairs equals the brute-force Hamming-ball pairs (pigeonhole
    exhaustiveness at max_hd = bands-1) on a twin-seeded fixture, and
    the plan is a band equi-join — no cartesian/BNLJ all-pairs node."""
    import itertools

    base = [
        (b"spark shuffles the band values into buckets %d" % i) * 8
        for i in range(12)
    ]
    rows = []
    for i, p in enumerate(base):
        rows.append((2 * i, p))
        tweaked = bytearray(p)
        tweaked[len(p) // 2] ^= 0x20     # one-byte "re-encode" twin
        rows.append((2 * i + 1, bytes(tweaked)))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = multimodal.dhash_pairs(media, bands=4)
    got = sorted((r["id_a"], r["id_b"], r["hd"]) for r in out.collect())
    hs = {i: _py_dhash(p) for i, p in rows}
    want = []
    for a, b in itertools.combinations(sorted(hs), 2):
        hd = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        if hd <= 3:
            want.append((a, b, hd))
    assert got == sorted(want)
    # every original/twin pair is within the ball (the operator's point)
    found = {(a, b) for a, b, _ in got}
    assert all((2 * i, 2 * i + 1) in found for i in range(12))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dhash_pairs_wider_band_count(spark):
    """bands=8 widens the exhaustive Hamming ball to hd <= 7 and stays
    equal to brute force — the pigeonhole argument is band-count
    generic, not a bands=4 special case."""
    import itertools

    rows = []
    for i in range(10):
        p = (b"wider hamming ball exercises band %d arithmetic " % i) * 6
        rows.append((2 * i, p))
        tweaked = bytearray(p)
        # three byte tweaks spread out: usually lands in the 4..7 hd
        # range that bands=4 (hd <= 3) is NOT required to find
        for pos in (len(p) // 4, len(p) // 2, 3 * len(p) // 4):
            tweaked[pos] ^= 0x11
        rows.append((2 * i + 1, bytes(tweaked)))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = sorted(
        (r["id_a"], r["id_b"], r["hd"])
        for r in multimodal.dhash_pairs(media, bands=8).collect()
    )
    hs = {i: _py_dhash(p) for i, p in rows}
    want = sorted(
        (a, b, bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1"))
        for a, b in itertools.combinations(sorted(hs), 2)
        if bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1") <= 7
    )
    assert got == want and got
    # the wider ball must contain every bands=4 pair as a subset
    narrow = {
        (r["id_a"], r["id_b"])
        for r in multimodal.dhash_pairs(media, bands=4).collect()
    }
    assert narrow <= {(a, b) for a, b, _ in got}


def test_dhash_decode_fn_default_and_identity_agree(spark):
    """Round-12 verdict item 4: the decode step is pluggable.  A
    decode_fn that returns exactly the payload bytes as a 1-D luminance
    sequence must reproduce the default byte-pooling path bit for bit —
    the decoder can only change the raster source, never the
    grid/compare/banding."""
    import numpy as np

    payloads = [
        (0, b""),
        (1, None),
        (2, b"abc"),
        (3, bytes(range(256)) * 5),
        (4, b"the quick brown fox jumps over the lazy dog" * 20),
    ]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")

    def identity_decode(payload):
        return np.frombuffer(b"" if payload is None else bytes(payload), np.uint8)

    default = {r["media_id"]: r["dhash"] for r in multimodal.dhash_table(media).collect()}
    plugged = {
        r["media_id"]: r["dhash"]
        for r in multimodal.dhash_table(media, decode_fn=identity_decode).collect()
    }
    assert default == plugged


def test_dhash_decode_fn_2d_raster_semantics(spark):
    """Synthetic 2-D rasters through a plugged decode_fn prove the
    pooled-grid semantics: a left-to-right gradient has every right
    cell brighter (hash 0), its mirror has every LEFT cell brighter
    (all 64 bits -> -1 signed), a flat raster has no strict inequality
    (hash 0), and an undecodable payload (decode_fn returns None)
    hashes to 0 like an empty payload."""
    import numpy as np

    def decode(payload):
        kind = bytes(payload).decode() if payload is not None else "none"
        g = np.tile(np.arange(90, dtype=np.int64), (80, 1))
        return {
            "gradient": g,
            "mirror": g[:, ::-1].copy(),
            "flat": np.full((80, 90), 7, dtype=np.int64),
            "none": None,
        }[kind]

    media = spark.createDataFrame(
        [(0, b"gradient"), (1, b"mirror"), (2, b"flat"), (3, None)],
        "media_id long, payload binary",
    )
    got = {
        r["media_id"]: r["dhash"]
        for r in multimodal.dhash_table(media, decode_fn=decode).collect()
    }
    assert got == {0: 0, 1: -1, 2: 0, 3: 0}


def test_dhash_decode_fn_near_dup_pair_one_flipped_cell(spark):
    """End-to-end through dhash_pairs with a plugged 2-D decoder: a
    raster and its one-brightened-block twin differ in exactly one
    comparison bit (hd=1) and are found by the banded join; an
    unrelated random raster pairs with neither.  Grid, comparison and
    banding are untouched by the raster source."""
    import numpy as np

    base = np.full((80, 90), 100, dtype=np.int64)
    twin = base.copy()
    twin[30:40, 30:40] = 255          # exactly grid cell (3, 3): the
    # (3,3)>(3,4) comparison flips on, (3,2)>(3,3) stays off -> hd 1
    other = np.tile(np.arange(90, dtype=np.int64), (80, 1))[:, ::-1].copy()
    rasters = {0: base, 1: twin, 2: other}  # hashes 0, 1<<27, -1

    def decode(payload):
        return rasters[int(bytes(payload).decode())]

    media = spark.createDataFrame(
        [(0, b"0"), (1, b"1"), (2, b"2")], "media_id long, payload binary"
    )
    out = multimodal.dhash_pairs(media, bands=4, decode_fn=decode)
    got = sorted((r["id_a"], r["id_b"], r["hd"]) for r in out.collect())
    from projet_graphdb_spark.functions.multimodal import _dhash_bits, _dhash_pool_2d

    hs = {i: _dhash_bits(*_dhash_pool_2d(r)) for i, r in rasters.items()}
    assert bin((hs[0] ^ hs[1]) & ((1 << 64) - 1)).count("1") == 1
    assert got == [(0, 1, 1)]
    # same audited banded plan as the default path
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decode_fn_pillow_import_gate_or_real_decode(spark):
    """Round-13 verdict item 6: the Pillow adapter activates iff PIL
    imports.  Without Pillow (this container) the factory raises
    ImportError at construction — the default stand-in stays active.
    With Pillow, a tiny generated PNG round-trips: the decoded raster
    drives the 2-D pooling path, the hash is payload-dependent, and a
    one-pixel tweak stays Hamming-close (the dHash premise)."""
    import pytest

    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(ImportError, match="Pillow is not installed"):
            multimodal.decode_fn_pillow()
        return
    import io

    from PIL import Image

    def png_bytes(tweak: bool) -> bytes:
        im = Image.new("L", (32, 32))
        px = im.load()
        for y in range(32):
            for x in range(32):
                px[x, y] = (x * 8 + (y // 4)) % 256
        if tweak:
            px[5, 5] = 255
        buf = io.BytesIO()
        im.save(buf, format="PNG")
        return buf.getvalue()

    fn = multimodal.decode_fn_pillow(max_side=64)
    media = spark.createDataFrame(
        [(1, png_bytes(False)), (2, png_bytes(True)), (3, b"not a png"),
         (4, None)],
        "media_id long, payload binary",
    )
    got = {
        r["media_id"]: r["dhash"]
        for r in multimodal.dhash_table(media, decode_fn=fn).collect()
    }
    assert got[3] == 0 and got[4] == 0      # undecodable/None -> 0
    assert got[1] != 0                        # real raster hashes
    hd = bin((got[1] ^ got[2]) & ((1 << 64) - 1)).count("1")
    assert hd <= 8                            # one-pixel tweak stays close


def test_dhash_index_two_day_ingest_lifecycle(spark, tmp_path):
    """Round-14 verdict item 1, image tier end-to-end: corpus media
    indexed ONCE to a persisted dHash band index; day-1 shard joins
    through the read-back sink and must equal the shard×corpus cut of
    the batch dhash_pairs over corpus ∪ shard; accepted day-1 media
    append via dhash_index_append (layout + stamp from the sink's own
    config); day-2 then sees day-1 through the grown index — corpus
    payloads are decoded exactly once across both days."""
    import itertools

    base = [
        (b"an image payload with border bytes and body %d" % i) * 8
        for i in range(10)
    ]
    corpus_rows = [(2 * i, p) for i, p in enumerate(base)]
    day1_rows = []
    for i, p in enumerate(base[:6]):
        tw = bytearray(p)
        tw[len(p) // 2] ^= 0x20
        day1_rows.append((2 * i + 1, bytes(tw)))
    day2_rows = [(101, day1_rows[0][1]), (103, b"entirely new payload" * 16)]
    mk = lambda rows: spark.createDataFrame(
        rows, "media_id long, payload binary"
    )
    path = str(tmp_path / "dhash_idx")
    multimodal.dhash_band_index(
        mk(corpus_rows), bands=4, join_cost_flops=2.0e8
    ).write.partitionBy("band").parquet(path)
    index = spark.read.parquet(path)

    def brute_cross(shard_rows, corpus_ids_rows):
        hs = {i: _py_dhash(p) for i, p in corpus_ids_rows + shard_rows}
        sh = {i for i, _ in shard_rows}
        out = set()
        for a, b in itertools.combinations(sorted(hs), 2):
            if (a in sh) == (b in sh):
                continue
            hd = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
            if hd <= 3:
                s, c = (a, b) if a in sh else (b, a)
                out.add((s, c, hd))
        return out

    got1 = {
        (r["new_id"], r["corpus_id"], r["hd"])
        for r in multimodal.incremental_dhash_dups(
            mk(day1_rows), index, bands=4
        ).collect()
    }
    assert got1 == brute_cross(day1_rows, corpus_rows) and got1
    cfg = multimodal.dhash_index_append(spark, path, mk(day1_rows))
    assert cfg["layout"] == "identity" and cfg["bands"] == 4
    grown = spark.read.parquet(path)
    jcs = grown.select("_join_cost_flops").distinct().collect()
    assert len(jcs) == 1 and jcs[0][0] == 2.0e8
    got2 = {
        (r["new_id"], r["corpus_id"], r["hd"])
        for r in multimodal.incremental_dhash_dups(
            mk(day2_rows), grown, bands=4
        ).collect()
    }
    assert got2 == brute_cross(day2_rows, corpus_rows + day1_rows)
    # day-2's exact re-upload of a day-1 twin is caught at hd=0
    assert (101, 1, 0) in got2


def test_dhash_band_index_auto_layout_sink_backed(spark, both_modes):
    """layout="auto" materializes the fingerprint frame before the gauge
    ladder; in sink-backed mode the index and its chosen layout equal
    the default mode's."""
    media = multimodal.fake_media_table(spark, n=48)

    def run():
        plan = {}
        rows = multimodal.dhash_band_index(
            media, bands=4, layout="auto", plan_out=plan
        ).collect()
        return sorted(map(tuple, rows)), plan.get("layout")

    default, sink = both_modes(run)
    assert sink == default and default[0]
