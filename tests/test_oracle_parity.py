"""Every registered query must hash-match its DuckDB oracle at sf0.001 —
the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from driftdb_spark.registry import QUERIES, query_map
from tests.oracle import DEFAULT_TEST_SF, compare

query_map()  # force registration


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    spec = QUERIES[name]
    df = spec.fn(spark, DEFAULT_TEST_SF)
    if spec.oracle is None:
        # rows-only check: must execute and have a stable schema
        rows = df.collect()
        assert df.columns
        assert rows is not None
    else:
        compare(df, spec.oracle, DEFAULT_TEST_SF)


#: the only rows-only entries: mapInPandas decoders and perceptual hashes
#: with no DuckDB equivalent. The set may shrink; it must never grow.
ROWS_ONLY = {
    "multimodal_audio_features",
    "multimodal_frame_sample",
    "multimodal_image_features",
    "multimodal_phash_dedup",
    "multimodal_phash_recall_audit",
    "multimodal_ppm_decode",
    "multimodal_wav_decode",
}

#: near-dup families once kept twice (a rows-only fast twin and an
#: oracle-checked md5 twin): now one implementation under both names
SHARED_NAMES = (
    ("dedup_minhash_lsh", "dedup_minhash_lsh_portable"),
    ("dedup_simhash", "dedup_simhash_portable"),
    ("sim_ann_lsh_probe", "sim_ann_lsh_portable"),
)


def test_registry_contract():
    assert len(QUERIES) == 203
    assert {n for n, s in QUERIES.items() if s.oracle is None} == ROWS_ONLY
    for name, alias in SHARED_NAMES:
        spec, twin = QUERIES[name], QUERIES[alias]
        assert spec.fn is twin.fn, name
        assert spec.oracle is not None and spec.oracle == twin.oracle, name
