"""Z-order clustering (operators/zorder.py, q110): the Morton key must be
a correct bit interleave, and the clustered layout must actually shrink
per-file key bounding boxes — the property that buys multi-column file
pruning at 100 TB — measured from the real parquet footer stats, not
assumed."""

from __future__ import annotations

import glob
import os
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.operators.zorder import zorder_key
from kinesis_customer_sample_spark.registry import load_registry


def _morton16(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_reference_interleave(spark):
    cases = [(0, 0), (1, 0), (0, 1), (65535, 0), (0, 65535), (12345, 54321), (400, 2399)]
    df = spark.createDataFrame(cases, "x long, y long").withColumn(
        "z", zorder_key(F.col("x"), F.col("y"), bits=16)
    )
    for row in df.collect():
        assert row.z == _morton16(row.x, row.y), (row.x, row.y)


def test_zorder_key_preserves_locality_ordering(spark):
    """Points in the same quadrant of the key plane must be contiguous in
    z-order: the top bit of the interleave is the quadrant id."""
    pts = [(x, y) for x in (10, 40000) for y in (10, 40000)]
    df = spark.createDataFrame(pts, "x long, y long").withColumn(
        "z", zorder_key(F.col("x"), F.col("y"), bits=16)
    )
    got = {(r.x, r.y): r.z for r in df.collect()}
    # quadrant order: (lo,lo) < (hi,lo) < (lo,hi) < (hi,hi) for the top bits
    assert got[(10, 10)] < got[(40000, 10)] < got[(10, 40000)] < got[(40000, 40000)]


def test_zorder_files_cover_small_bounding_boxes(spark, sf_dir):
    """After q110 writes, every parquet file's (o_custkey × o_orderdate)
    bounding box — read from the actual footer min/max stats — must cover
    a small fraction of the global key plane. That is the whole point of
    the layout: a predicate on either column can skip most files."""
    q = load_registry()["q110_zorder_clustering"]
    out = os.path.dirname(urlparse(q.fn(spark, sf_dir).inputFiles()[0]).path)

    files = sorted(glob.glob(f"{out}/*.parquet"))
    assert len(files) >= 4  # repartitionByRange(8) minus possibly-empty ranges

    boxes = []
    for f in files:
        md = pq.read_metadata(f)
        cmin = dmin = None
        cmax = dmax = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                name = col.path_in_schema
                if name == "o_custkey":
                    cmin = st.min if cmin is None else min(cmin, st.min)
                    cmax = st.max if cmax is None else max(cmax, st.max)
                elif name == "o_orderdate":
                    dmin = st.min if dmin is None else min(dmin, st.min)
                    dmax = st.max if dmax is None else max(dmax, st.max)
        assert None not in (cmin, cmax, dmin, dmax), f
        boxes.append((cmin, cmax, dmin, dmax))

    gcmin = min(b[0] for b in boxes)
    gcmax = max(b[1] for b in boxes)
    gdmin = min(b[2] for b in boxes)
    gdmax = max(b[3] for b in boxes)
    c_span = (gcmax - gcmin) or 1
    d_span = (gdmax - gdmin).days or 1
    areas = [
        ((b[1] - b[0]) / c_span) * ((b[3] - b[2]).days / d_span) for b in boxes
    ]
    mean_area = sum(areas) / len(areas)
    # unclustered files each cover ~the full plane (area ≈ 1.0); z-ordered
    # ranges must partition it — with ≥4 files, mean well under half
    assert mean_area < 0.5, f"mean normalized box area {mean_area:.3f}, boxes={boxes}"
