"""Round-12 ADVICE fixes: cross-engine numeric contracts that only
diverge outside fixture scale, pinned here so they can't regress.

1. det_kmeans centroid update must floor the IEEE double quotient the
   way DuckDB's FLOOR(CAST(s AS DOUBLE)/n) does — int→double FIRST,
   then divide — not Python's correctly-rounded true-rational int/int.
   The two differ once |s| >= 2^53 (reachable at the 100 TB target:
   ~5e7 rows/cell at quantized |x| ~ 1.8e8).
2. The pagerank oracles' teleport base must be the same double the
   engine computes: (1.0 - 0.85) = 0.15000000000000002, which is NOT
   the literal 0.15 (1 ulp apart — a rank landing on a 6th-decimal
   rounding boundary could flip the hash).
"""

from __future__ import annotations

import math

import duckdb
from conftest import on_both_cc_paths


# the PRODUCT formula, not a copy — reverting the similarity.py fix
# fails these tests (r12 review finding)
from dumbo_spark.operators.similarity import _centroid_component as _engine_centroid


def test_centroid_floor_matches_duckdb_above_2_53():
    # s = 2^53 + 1 is the first integer a double cannot represent:
    # CAST rounds it down to 2^53, so at n=1 the double-first floor is
    # 2^53 while the exact value is 2^53 + 1
    s = 2**53 + 1
    duck = duckdb.sql(
        f"SELECT FLOOR(CAST({s} AS BIGINT) / CAST(1 AS DOUBLE))::BIGINT"
    ).fetchone()[0]
    assert _engine_centroid(s, 1) == duck == 2**53
    # the OLD formula (true-rational s/n, then floor) provably diverges
    # at n=3: (2^53+1)/3 is exactly 3002399751580331, which the
    # correctly-rounded rational quotient preserves, while
    # double(2^53+1) = 2^53 gives floor(2^53/3) = 3002399751580330
    assert math.floor((2**53 + 1) / 3) == 3002399751580331
    assert _engine_centroid(2**53 + 1, 3) == 3002399751580330
    duck3 = duckdb.sql(
        f"SELECT FLOOR(CAST({s} AS BIGINT) / CAST(3 AS DOUBLE))::BIGINT"
    ).fetchone()[0]
    assert duck3 == 3002399751580330


def test_centroid_floor_matches_duckdb_at_many_magnitudes():
    cases = [
        (7, 3),
        (-7, 3),
        (2**53 - 1, 7),
        (2**53 + 1, 7),
        (2**60 + 12345, 997),
        (-(2**60) - 12345, 997),
        (2**62 + 1, 1),
        (3, 2**40),
    ]
    for s, n in cases:
        duck = duckdb.sql(
            f"SELECT FLOOR(CAST({s} AS BIGINT) / CAST({n} AS DOUBLE))::BIGINT"
        ).fetchone()[0]
        assert _engine_centroid(s, n) == duck, (s, n)


def test_pagerank_oracle_teleport_base_is_the_engine_double():
    # engine: dedup.pagerank computes base = (1.0 - damping) / n with
    # damping = 0.85 — the minuend double is 0.15000000000000002
    engine_base = 1.0 - 0.85
    assert engine_base != 0.15  # the 1-ulp gap ADVICE r11 flagged
    duck = duckdb.sql(
        "SELECT CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)"
    ).fetchone()[0]
    assert duck == engine_base


def _synth_bmp() -> tuple[bytes, list]:
    """Hand-assembled 3×2 uncompressed 24-bit BMP (bottom-up BGR rows,
    4-byte padding) and the top-down RGB pixels it encodes."""
    import struct

    top_down_rgb = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
    ]
    rows = b""
    for row in reversed(top_down_rgb):  # stored bottom-up
        for r, g, b in row:
            rows += bytes([b, g, r])  # stored BGR
        rows += b"\x00" * 3  # 9 -> 12 byte row pad
    header = b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    return header + info + rows, top_down_rgb


def _synth_ppm() -> tuple[bytes, list]:
    top_down_rgb = [
        [(1, 2, 3), (4, 5, 6)],
        [(7, 8, 9), (10, 11, 12)],
        [(200, 100, 50), (0, 255, 128)],
    ]
    raster = bytes(v for row in top_down_rgb for px in row for v in px)
    return b"P6\n# synthesized fixture\n2 3\n255\n" + raster, top_down_rgb


def test_decode_bmp_real_container_parse():
    from dumbo_spark.operators.multimodal import decode_bmp

    payload, want = _synth_bmp()
    got = decode_bmp(payload)
    assert got is not None
    w, h, px = got
    assert (w, h) == (3, 2)
    assert px.tolist() == [[list(p) for p in row] for row in want]
    # non-BMP / truncated / wrong-depth payloads all refuse cleanly
    assert decode_bmp(b"not a bmp") is None
    assert decode_bmp(payload[:40]) is None
    assert decode_bmp(payload[:30] + b"\x08" + payload[31:]) is None  # 8bpp
    # dims-only fast path: header + raster-length validation, no copy
    assert decode_bmp(payload, with_pixels=False) == (3, 2, None)
    assert decode_bmp(payload[:-1], with_pixels=False) is None  # truncated


def test_decode_bmp_top_down_variant():
    # negative biHeight = top-down row order (no flip); same pixels
    import struct

    from dumbo_spark.operators.multimodal import decode_bmp

    payload, want = _synth_bmp()
    # rebuild with rows stored top-down and height = -2
    rows = b""
    for row in want:  # natural order this time
        for r, g, b in row:
            rows += bytes([b, g, r])
        rows += b"\x00" * 3
    header = b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 3, -2, 1, 24, 0, len(rows), 0, 0, 0, 0
    )
    got = decode_bmp(header + info + rows)
    assert got is not None and (got[0], got[1]) == (3, 2)
    assert got[2].tolist() == [[list(p) for p in row] for row in want]


def test_decode_ppm_real_container_parse():
    from dumbo_spark.operators.multimodal import decode_ppm

    payload, want = _synth_ppm()
    got = decode_ppm(payload)
    assert got is not None
    w, h, px = got
    assert (w, h) == (2, 3)
    assert px.tolist() == [[list(p) for p in row] for row in want]
    assert decode_ppm(b"P5\n2 2\n255\n" + b"\x00" * 4) is None  # graymap
    assert decode_ppm(payload[:-1]) is None  # truncated raster
    # magic must be delimited — 'P6123 ...' is not width=123 (r12 review)
    assert decode_ppm(b"P6123 45 255\n" + b"\x00" * (123 * 45 * 3)) is None
    # a comment directly after the magic is legal Netpbm
    assert decode_ppm(b"P6# c\n2 3 255\n" + bytes(18)) is not None
    # dims-only fast path: same validation, no raster materialization
    assert decode_ppm(payload, with_pixels=False) == (2, 3, None)
    assert decode_ppm(payload[:-1], with_pixels=False) is None


def test_decode_image_prefers_real_parse_over_standin():
    from dumbo_spark.operators.multimodal import decode_image

    bmp, _ = _synth_bmp()
    ppm, _ = _synth_ppm()
    assert decode_image(bmp) == (3, 2)
    assert decode_image(ppm) == (2, 3)
    # text payloads keep the deterministic stand-in (oracle contract)
    w, h = decode_image(b"definitely not an image")
    assert 64 <= w < 256 and 64 <= h < 256


def test_extract_features_decodes_bmp_end_to_end(spark):
    # the Arrow mapInPandas leg must surface REAL dims for a real
    # container and the stand-in for text, in the same batch
    from dumbo_spark.operators.multimodal import decode_image, extract_features

    bmp, _ = _synth_bmp()
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(b"plain text payload"))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: (r["width"], r["height"]) for r in extract_features(df).collect()}
    assert got[1] == (3, 2)
    assert got[2] == decode_image(b"plain text payload")


@on_both_cc_paths
def test_connected_components_converges_on_deep_chains(spark):
    # r12 review: max_iter used to be a silent output bound — a
    # path-shaped component deeper than it SPLIT, and every
    # oracle-checked consumer compares against an exact transitive
    # closure. A 25-edge path (diameter 25 > the old cap of 20) must
    # now converge to ONE component under the default budget...
    import pytest as _pytest

    from dumbo_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "doc_a long, doc_b long"
    )
    got = connected_components(edges).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == 26
    # ...and an insufficient budget must RAISE, never return split labels
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3)


def test_evidence_generator_classifies_no_oracle_rows(tmp_path):
    # VERDICT r11 Next #4: the r12 driver window contains by-design
    # rows-only names (e.g. semantic_dedup); their `err: no_oracle`
    # rows must land in the rows-only/promoted buckets, NEVER in the
    # failed bucket. Synthesize a round file exercising all paths.
    import json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import evidence_report

    from dumbo_spark.registry import QUERIES

    sketch = next(  # a real registered rows-only-by-design name
        n for n in sorted(QUERIES) if QUERIES[n].oracle is None
    )
    promoted = next(  # a real oracle-backed name, sampled pre-oracle
        n for n in sorted(QUERIES) if QUERIES[n].oracle is not None
    )
    rows_only = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "spark_rows": 5, "oracle_rows": None,
                 "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({sketch: rows_only, promoted: rows_only})
    )
    report = evidence_report.build_report(str(tmp_path))
    assert f"| {sketch} | rows-only | r01 | rows-only pass |" in report
    assert f"| {promoted} | ✓ | r01 | rows-only pass; oracle since added |" in report
    assert "0 failed/errored latest rows" in report


def test_pagerank_oracles_use_the_subtraction_form():
    # both recursive-CTE oracles must seed teleport from the identical
    # double, not the literal 0.15
    from dumbo_spark.registry import QUERIES

    for name in ("doc_pagerank", "pagerank_checked"):
        sql = QUERIES[name].oracle
        assert sql is not None
        assert "CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)" in sql, name
        assert "0.15 /" not in sql, name
