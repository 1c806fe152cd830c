"""A commit only lists segments; WAND bounds come from block metadata.

Contract:
- the commit writes NO root table: stats.json lists the segment dirs
  (segment_dirs), and postings, termstats, docs and positions are read from
  them
- a block's WAND bound is computed per query, WITHOUT decoding, from the
  block's postings row (max_tf, min_norm_id) and the query's weight
- every bound is a TRUE upper bound on the block's per-doc BM25
  contribution (WAND correctness requires never underestimating)
"""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import build_index
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.fieldnorm import FIELDNORM_TABLE
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.scoring import B, K1, idf_weight
from tantivy4java_spark.searcher import IndexSearcher, _DECODED_SCHEMA, _decode_blocks


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = generate_pandas(0, 300, min_tokens=20, max_tokens=120)
    pdf["doc_id"] = range(300)
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("lang", "string")],
                      id_cols=["doc_id", "lang"], content_col="content",
                      shard_bits=6)
    idx = str(tmp_path_factory.mktemp("bm_idx"))
    build_index(spark, spark.createDataFrame(pdf), cfg, idx,
                doc_id_col="doc_id", num_segments=3)
    return idx


def test_no_postings_rewrite_at_commit(spark, built):
    s = IndexSearcher(spark, built)
    for root_table in ("postings", "terms", "docs", "blockmeta"):
        assert not os.path.exists(os.path.join(built, root_table)), \
            f"commit wrote a root {root_table} table"
    dirs = s._stats["segment_dirs"]
    assert dirs == [f"segments/seg={i:05d}" for i in range(3)]
    for d in dirs:
        for table in ("postings", "termstats", "docs", "positions"):
            assert os.path.isdir(os.path.join(built, d, table))
    # the searcher still serves every posting and doc through the dir list
    assert s.postings().select("field", "term", "shard", "first_doc") \
        .distinct().count() == s.postings().count()
    assert s.docs().count() == s.num_docs == 300


def test_blockmeta_is_true_upper_bound(spark, built):
    """Decode every block and verify that the per-query bound of each
    (term, shard) is at least every doc's true BM25 score there."""
    s = IndexSearcher(spark, built)
    decoded = (s.postings().filter(F.col("field") == "content")
               .mapInPandas(_decode_blocks, _DECODED_SCHEMA).toPandas())
    dfs = decoded.groupby("term")["doc_id"].nunique().to_dict()
    avgdl = s.avgdl("content")
    N = s.num_docs
    lens = np.asarray(FIELDNORM_TABLE, dtype=np.float64)[
        decoded["norm_id"].to_numpy()]
    tf = decoded["tf"].to_numpy(dtype=np.float64)
    idf = decoded["term"].map(lambda t: idf_weight(dfs[t], N)).to_numpy()
    decoded["true_score"] = idf * tf / (tf + K1 * (1.0 - B + B * lens / avgdl))
    decoded["shard"] = decoded["doc_id"].to_numpy() >> 6
    true_max = (decoded.groupby(["term", "shard"])["true_score"].max())
    weights = s._idf_map([("content", t) for t in sorted(dfs)])
    assert len(weights) == len(dfs)
    # both readers of the bound: the driver's numpy and the Spark Column
    local = s._local_block_bounds(weights)
    cluster = [(r["field"], r["term"], r["shard"], r["cnt"], r["bmax"])
               for r in s._block_bounds(weights).collect()]
    bounds = [{(t, sh): b for _, t, sh, _, b in rows}
              for rows in (local, cluster)]
    for bound in bounds:
        assert set(bound) == set(true_max.index)
        low = [(k, bound[k], v) for k, v in true_max.items()
               if bound[k] + 1e-12 < v]
        assert not low, \
            f"bound below a doc's true score — WAND would drop hits: {low[:3]}"
    assert bounds[0] == pytest.approx(bounds[1], rel=1e-12)


def test_pruned_topk_equals_unpruned(spark, built):
    s = IndexSearcher(spark, built)
    for q in (Q.Term("content", "import"),
              Q.Boolean(must=[Q.Term("content", "import"),
                              Q.Term("content", "shuffle")]),
              Q.Boolean(should=[Q.Term("content", "merge"),
                                Q.Term("content", "partition")])):
        pruned = [(r["doc_id"], round(r["score"], 9))
                  for r in s.search(q, limit=10, prune=True).collect()]
        full = [(r["doc_id"], round(r["score"], 9))
                for r in s.search(q, limit=10, prune=False).collect()]
        assert pruned == full
