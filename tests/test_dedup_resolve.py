"""LSH pair → cluster resolution (q_dedup_lsh_resolve) on a KNOWN near-dup
layout: verified clusters resolve to min-doc_id representatives; docs with no
verified near-dup never appear in the output."""

import pytest

from neocrawler_spark.operators.dedup import q_dedup_lsh_resolve


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    base = " ".join(f"tok{i}" for i in range(60))
    other = " ".join(f"alt{i}" for i in range(60))
    rows = [
        # cluster A: identical texts → full-signature agreement (clique)
        (1, base), (2, base), (5, base),
        # cluster B: identical texts, disjoint vocabulary from A
        (10, other), (11, other),
        # singleton: unique vocabulary — no candidate pair survives verify
        (20, " ".join(f"solo{i}" for i in range(60))),
    ]
    d = tmp_path_factory.mktemp("docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_known_clusters_resolve(spark, docs_dir):
    out = {r["doc_id"]: (r["cluster_rep"], r["keep"])
           for r in q_dedup_lsh_resolve(spark, docs_dir).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 5: (1, False),
        10: (10, True), 11: (10, False),
    }


def test_cross_group_seven_of_eight_edge(spark, tmp_path_factory):
    """The signature-group contraction must preserve verified edges that
    cross groups (7/8 agreement, sigs NOT identical) — the case the
    group-graph CC could silently drop if cross-group verification broke.
    Also pins the lsh pair output duplicate-free under the contraction's
    cross ∪ same union (the shape's main regression risk)."""
    from neocrawler_spark.operators.dedup import q_dedup_minhash, q_dedup_minhash_lsh

    base = [f"tok{i}" for i in range(80)]
    near = list(base)
    # "near6" in place of tok0 lowers exactly one of the 8 minhashes (found by
    # a search over near0, near1, ... against the fixed PERMS/md5 pipeline;
    # tok0 is no permutation's minimum), so doc 3 forms its own signature
    # group that agrees with docs 1-2 in 7 of 8 minhashes
    near[0] = "near6"
    rows = [
        (1, " ".join(base)), (2, " ".join(base)),   # identical-sig group
        (3, " ".join(near)),                        # near-dup, different sig
    ]
    d = tmp_path_factory.mktemp("docs7")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    sig = {}
    for r in q_dedup_minhash(spark, str(d)).collect():
        sig.setdefault(r["doc_id"], {})[r["perm"]] = r["minhash"]
    assert sig[1] == sig[2]
    assert sum(sig[1][p] != sig[3][p] for p in sig[1]) == 1
    pairs = [tuple(r) for r in q_dedup_minhash_lsh(spark, str(d)).collect()]
    assert len(pairs) == len(set(pairs)), "contracted lsh emitted duplicates"
    out = {r["doc_id"]: (r["cluster_rep"], r["keep"])
           for r in q_dedup_lsh_resolve(spark, str(d)).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False)}
    assert sorted(pairs) == [(1, 2), (1, 3), (2, 3)]
