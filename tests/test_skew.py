"""Hot-conversation skew: chunked detection over a pathologically long
conversation must (a) fan out over chunks and (b) stitch without duplicate or
lost change points at chunk seams."""

import numpy as np
from _reference import detect_ref
from pyspark.sql import functions as F

from pysatl_cpd_spark.detectors import CusumDetector
from pysatl_cpd_spark.operators.cpd import detect_offline_chunked
from pysatl_cpd_spark.sources.transcripts import (
    synthesize_transcripts,
    transcripts_table,
    write_transcripts,
)


def test_chunked_detection_on_hot_series(spark):
    # one clear change point at 5000 inside a 10k-point series + small series
    rows = []
    np.random.seed(11)
    big = np.concatenate([np.random.normal(0, 1, 5000), np.random.normal(6, 1, 5000)])
    rows += [("hot", t, float(v)) for t, v in enumerate(big)]
    np.random.seed(12)
    rows += [("cold", t, float(v)) for t, v in enumerate(np.random.normal(0, 1, 200))]
    df = spark.createDataFrame(rows, "series_id string, t long, value double")

    algo = lambda: CusumDetector(k=1.5, h=20.0)  # noqa: E731
    plain = detect_ref(df, algo)
    chunked = {
        (r["series_id"], r["change_point"])
        for r in detect_offline_chunked(df, algo, chunk_size=2000, overlap=400).collect()
    }
    assert any(s == "hot" and 4990 <= c <= 5010 for s, c in plain)
    assert any(s == "hot" and 4990 <= c <= 5010 for s, c in chunked)
    # stitching produced no duplicates
    assert len(chunked) == len({c for c in chunked})


def test_skewed_transcripts_distribute(spark):
    tr = synthesize_transcripts(
        spark, n_conversations=8, avg_turns=60, seed=5, hot_conversations=1, hot_turns=4000
    )
    counts = tr.groupBy("conv_id").count().collect()
    assert max(r["count"] for r in counts) == 4000


def test_write_transcripts_partitioned(spark, tmp_path):
    tr = transcripts_table(spark, n_conversations=4, avg_turns=50, seed=9)
    path = str(tmp_path / "transcripts")
    write_transcripts(tr, path)
    back = spark.read.parquet(path)
    assert back.count() == tr.count()
    assert "day" in back.columns  # partition column materialized
    # per-turn text equality under stable ordering survives the round-trip
    a = tr.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").toPandas()
    b = (
        back.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    assert a.equals(b)
