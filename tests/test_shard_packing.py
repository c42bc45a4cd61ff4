"""corpus_shard_packing: the two-phase distributed prefix sum must
equal the serial cumsum, and shards must be token-balanced."""

from __future__ import annotations

from osmart_etl_spark.queries.base import REGISTRY
from osmart_etl_spark.queries.scale_ops import _SP_SHARDS
from tests.conftest import SF_SMALL


def test_shard_packing_matches_serial_cumsum(spark):
    rows = sorted(
        REGISTRY["corpus_shard_packing"].fn(spark, SF_SMALL).collect(),
        key=lambda r: r.shard_id,
    )

    docs = sorted(
        (r.doc_id, len([t for t in r.text.split(" ") if t]))
        for r in spark.read.parquet(SF_SMALL + "/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    total = sum(t for _, t in docs)
    target = (total + _SP_SHARDS - 1) // _SP_SHARDS
    want: dict[int, list] = {}
    cum = 0
    for doc_id, tokens in docs:
        sid = cum // target
        agg = want.setdefault(sid, [0, 0, doc_id, doc_id])
        agg[0] += 1
        agg[1] += tokens
        agg[3] = doc_id
        cum += tokens

    got = {r.shard_id: [r.n_docs, r.n_tokens, r.first_doc, r.last_doc] for r in rows}
    assert got == want

    # contiguity: shard doc-ranges are disjoint and ordered
    for a, b in zip(rows, rows[1:]):
        assert a.last_doc < b.first_doc
    # balance: every shard except possibly the last is within one
    # max-doc-size of the target
    max_doc = max(t for _, t in docs)
    for r in rows[:-1]:
        assert abs(r.n_tokens - target) <= max_doc

