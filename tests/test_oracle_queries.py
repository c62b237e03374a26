"""The correctness gate, locally: every registered query vs its DuckDB
oracle at sf0.01 — same comparison shape the driver runs
(row count + schema + order-insensitive values)."""

from __future__ import annotations

import pytest

from fairy_spark.queries import ORACLE, QUERIES
from fairy_spark.testing.oracle import run_compare


# Checked in the default run: every query whose build reaches
# operators/pool.py's park_persisted (found by wrapping it and building
# every registered query at sf0.01), text_dsir_weights, and the IVF rows
# whose Lloyd builds park their final centroids. The rest of the
# registry is marked `parity` and runs with `-m parity`.
SMOKE = frozenset(
    {
        "dedup_audio_fingerprint",
        "dedup_cdc_chunks",
        "dedup_eval_minhash",
        "dedup_image_dhash",
        "dedup_lines_near",
        "dedup_lines_near_incremental",
        "dedup_prefix_jaccard",
        "dedup_semantic_semdedup",
        "dedup_simhash_hamming",
        "dedup_simhash_scale",
        "dedup_simhash_scale64",
        "dedup_winnow_pairs",
        "events_rfm_segmentation",
        "graph_adamic_adar",
        "graph_clustering_capped",
        "graph_clustering_coeff",
        "graph_common_neighbors",
        "graph_label_propagation",
        "graph_shortest_paths",
        "graph_triangles",
        "graph_triangles_auto",
        "graph_triangles_capped",
        "pipeline_pretrain_corpus",
        "pipeline_pretrain_corpus_scale",
        "pipeline_pretrain_corpus_staged",
        "pipeline_pretrain_corpus_staged_scale",
        "stream_exec_lines_near_append",
        "text_winnow_fingerprint",
        "text_dsir_weights",
        "ml_ann_ivf_append",
        "ml_ann_ivf_compact",
        "ml_ann_ivf_delete",
        "ml_ann_ivf_persisted",
        "ml_ann_ivf_persisted_append",
        "ml_ann_ivf_topk",
    }
)


@pytest.mark.parametrize(
    "name",
    [
        n if n in SMOKE else pytest.param(n, marks=pytest.mark.parity)
        for n in sorted(QUERIES)
    ],
)
def test_query_vs_oracle(name, spark, sf_dir, duck):
    res = run_compare(name, spark, sf_dir, duck)
    assert res.ok, str(res)
    if name in ORACLE:
        assert res.oracle_rows == res.spark_rows
        # The driver HASHES values: a cell that matches only within
        # float tolerance here is a driver mismatch there. Queries must
        # round/flatten on both sides until comparison is exact (sum
        # integer cents instead of doubles for large money totals).
        assert res.inexact_cells == 0, f"{res.inexact_cells} tolerance-only cells"


def test_smoke_tier_names_registered_queries():
    assert SMOKE <= set(QUERIES), sorted(SMOKE - set(QUERIES))


def test_all_queries_have_oracle_or_are_whitelisted():
    # Non-SQL-expressible ops get a rows-only check; keep that list tiny
    # and intentional.
    no_oracle = set(QUERIES) - set(ORACLE)
    allowed = {n for n in no_oracle if n.startswith(("stream_", "ml_", "mm_"))}
    assert no_oracle == allowed, f"queries missing oracle: {no_oracle - allowed}"
