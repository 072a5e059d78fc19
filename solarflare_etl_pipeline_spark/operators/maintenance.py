"""Lifecycle maintenance for the incremental family's persisted stores
(VERDICT r12 task #2 — the operational gap between "incremental ops
exist" and "a daily pipeline can run for a year").

The three cross-run state stores —

  * the MinHash-LSH signature banding store
    (``similarity.ensure_signature_store``: 8 rows per corpus doc),
  * the FFD run-compressed bin table
    (``text.ensure_ffd_run_store``: <= ~130 rows at any corpus size),
  * the connected-components node->label store
    (``analytics.ensure_cc_label_store``: O(nodes)) —

are append-only between daily runs.  Left alone for a year they accrete
small files (one per trigger), tombstoned documents keep paying storage
and candidate-join cost, and the run table fragments into adjacent
equal-capacity runs.  The two registered ops here are the maintenance
passes a production deployment schedules alongside the incremental
jobs, each emitting an oracle-hashed STORE-SIZE LEDGER so the
maintenance arithmetic itself is under the correctness gate:

``maintenance_store_compact`` — semantics-PRESERVING compaction of all
three stores: dedup + single-file rewrite for sig/cc (small-file merge;
row counts must come back unchanged), run-merge for ffd (adjacent
contiguous equal-cap runs coalesce into one row — the per-bin capacity
sequence, which is all FFD continuation reads, is provably unchanged).
tests/test_semantics.py proves the incremental ops produce IDENTICAL
results from the compacted copies (the ops expose explicit
``*_from_store(spark, sf_dir, store_path)`` seams for exactly this).

``maintenance_store_ttl`` — document DELETION applied to the banding
store: bands of tombstoned docs (``doc_id % 97 = 0`` — the
deterministic stand-in for a retention/right-to-erasure list) are
dropped and the store rewritten.  This is NOT semantics-preserving by
design — deleted docs must stop producing near-dup pairs — so its
equality proof is against ground truth: the TTL'd store content equals
a store REBUILT from the reduced corpus (band-for-band), hence every
downstream incremental result equals the rebuilt-store result.

Both ops write to derived paths (``<store>_compact`` / ``<store>_ttl``)
and never touch the canonical ensure_* stores — a maintenance run in
the registry must not change any other registered query's answer
mid-session.  In production the swap is an atomic table-format commit
(RENAME / Iceberg snapshot replace) executed by the scheduler after the
equality check passes.

100 TB notes: each pass moves each store once through the executors
(scan -> distinct/filter -> write) — no shuffle beyond the dedup hash,
no driver materialization except the ffd run table, which is
dimension-sized (<= ~130 rows) by the run-compression bound.  The
ledger row count is 3 regardless of data scale.  files_after is pinned
to 1 here (coalesce(1)) because the stores are KB-sized at any sf; at
real scale the same pass targets ``maxRecordsPerFile``-bounded outputs
and the ledger's files_after becomes the post-compaction file count.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.session import run_concurrently


def _part_files(path: str) -> list[str]:
    return [
        f
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    ]


def _observed_rewrite(
    part: DataFrame, out: str, transform: Callable[[DataFrame], DataFrame]
) -> tuple[int, int]:
    """Write ``transform(part)`` to ``out`` as one parquet file; return
    (rows read, rows written).

    Both counts are taken inside the write job by ``Observation``s on
    either side of the transform, so a store costs one job, not the
    three of count, write, recount; every input row passes the first
    and every written row the second.
    """
    ob, oa = Observation(), Observation()
    (
        transform(part.observe(ob, F.count(F.lit(1)).alias("n")))
        .observe(oa, F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    try:
        return int(ob.get["n"]), int(oa.get["n"])
    except Py4JJavaError:
        # An empty store scans zero splits; a zero-task plan never
        # delivers its observed row, and the JVM side of Observation.get
        # fails an assertion. Counting an empty store is free.
        return part.count(), part.sparkSession.read.parquet(out).count()


def merge_adjacent_runs(
    runs: list[tuple[int, int, int]],
) -> list[tuple[int, int, int]]:
    """Canonical run-merge for the FFD bin table: adjacent (pos
    contiguous) runs with equal remaining capacity coalesce into one.
    The expansion to a per-bin capacity sequence — the only thing the
    FFD continuation recurrence reads — is invariant under this merge,
    which is what makes it a safe compaction (proved in
    tests/test_semantics.py by expanding both forms)."""
    out: list[list[int]] = []
    for pos, cap, cnt in sorted(runs):
        if out and out[-1][1] == cap and out[-1][0] + out[-1][2] == pos:
            out[-1][2] += cnt
        else:
            out.append([pos, cap, cnt])
    return [(int(p), int(c), int(n)) for p, c, n in out]


_LEDGER_SCHEMA = (
    "store string, rows_before long, rows_after long, "
    "rows_dropped long, files_after long"
)


def _ffd_final_state_sql() -> str:
    """The history-phase FFD unroll (identical CTE chain to
    ``text._ffd_inc_oracle``'s history phase) ending at the final
    run-compressed state r{CHUNK_TOKENS} — verified row-identical to
    the Python ``ffd_assignment_ledger`` state at sf0.001/0.01/0.1."""
    from solarflare_etl_pipeline_spark.operators.text import (
        CHUNK_TOKENS,
        PACK_BUDGET,
        _ffd_round_oracle,
    )

    rounds = ",".join(
        _ffd_round_oracle(k, CHUNK_TOKENS + 1 - k, PACK_BUDGET, hist_table="hhist")
        for k in range(1, CHUNK_TOKENS + 1)
    )
    return f"""
        hitems0 AS MATERIALIZED (
            SELECT CAST(LEAST({CHUNK_TOKENS}, n - chunk_id * {CHUNK_TOKENS})
                        AS BIGINT) AS s
            FROM (
                SELECT LEN(STRING_SPLIT(text, ' ')) AS n,
                       UNNEST(RANGE(0, CAST(CEIL(LEN(STRING_SPLIT(text, ' '))
                            / {CHUNK_TOKENS}.0) AS INT))) AS chunk_id
                FROM documents WHERE doc_id % 5 <> 0
            )
        ),
        hhist AS MATERIALIZED (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM hitems0 GROUP BY s
        ),
        r0 AS MATERIALIZED (
            SELECT CAST(NULL AS BIGINT) AS pos, CAST(NULL AS BIGINT) AS cap,
                   CAST(NULL AS BIGINT) AS cnt WHERE FALSE
        ),
        {rounds}"""


def _ivf_index_counts_sql() -> str:
    """The history-phase kmeans unroll (identical arithmetic to
    ``similarity._ivf_inc_oracle``'s index phase) ending at the stored
    centroid table (c2) and inverted lists (a2) — row counts only."""
    from solarflare_etl_pipeline_spark.operators.similarity import (
        DIM,
        IVFI_CK,
        IVFI_SEED_CAP,
        KMP_Q,
    )

    return f"""
        ivx AS MATERIALIZED (
            SELECT e.vec_id, i.pos,
                   CAST(ROUND(CAST(e.embedding[i.pos + 1] AS DOUBLE)
                              * {KMP_Q}, 0) AS BIGINT) AS xq
            FROM embeddings e, (SELECT UNNEST(RANGE(0, {DIM})) AS pos) i
            WHERE e.vec_id % 5 <> 0
        ),
        ivc0 AS (
            SELECT vec_id AS cid, pos, xq AS cq FROM ivx
            WHERE vec_id < {IVFI_SEED_CAP}
        ),
        ivd1 AS (
            SELECT ivx.vec_id, ivc0.cid,
                   CAST(SUM((ivx.xq - ivc0.cq) * (ivx.xq - ivc0.cq))
                        AS BIGINT) AS dist
            FROM ivx JOIN ivc0 USING (pos)
            GROUP BY ivx.vec_id, ivc0.cid
        ),
        iva1 AS (
            SELECT vec_id, ARG_MIN(cid, dist * {IVFI_CK} + cid) AS cid
            FROM ivd1 GROUP BY vec_id
        ),
        ivc1 AS (
            SELECT iva1.cid, ivx.pos,
                   CAST((SUM(ivx.xq)
                         - ((((SUM(ivx.xq) % COUNT(*)) + COUNT(*))
                             % COUNT(*))))
                        // COUNT(*) AS BIGINT) AS cq
            FROM ivx JOIN iva1 USING (vec_id)
            GROUP BY iva1.cid, ivx.pos
        ),
        ivd2 AS (
            SELECT ivx.vec_id, ivc1.cid,
                   CAST(SUM((ivx.xq - ivc1.cq) * (ivx.xq - ivc1.cq))
                        AS BIGINT) AS dist
            FROM ivx JOIN ivc1 USING (pos)
            GROUP BY ivx.vec_id, ivc1.cid
        ),
        iva2 AS (
            SELECT vec_id, ARG_MIN(cid, dist * {IVFI_CK} + cid) AS cid
            FROM ivd2 GROUP BY vec_id
        ),
        ivc2 AS (
            SELECT iva2.cid, ivx.pos,
                   CAST((SUM(ivx.xq)
                         - ((((SUM(ivx.xq) % COUNT(*)) + COUNT(*))
                             % COUNT(*))))
                        // COUNT(*) AS BIGINT) AS cq
            FROM ivx JOIN iva2 USING (vec_id)
            GROUP BY iva2.cid, ivx.pos
        ),
        ivn AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ivc2) AS ncent,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM iva2) AS nlists
        )"""


def _compact_oracle() -> str:
    from solarflare_etl_pipeline_spark.operators.text import CHUNK_TOKENS

    return f"""
        WITH {_ffd_final_state_sql()},
        {_ivf_index_counts_sql()},
        ffdlag AS (
            SELECT pos, cap, cnt,
                   LAG(cap) OVER (ORDER BY pos) AS pcap,
                   LAG(pos) OVER (ORDER BY pos) AS ppos,
                   LAG(cnt) OVER (ORDER BY pos) AS pcnt
            FROM r{CHUNK_TOKENS}
        ),
        ffdm AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(COALESCE(SUM(CASE WHEN pcap = cap
                            AND ppos + pcnt = pos THEN 0 ELSE 1 END), 0)
                        AS BIGINT) AS na
            FROM ffdlag
        ),
        hedges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            WHERE a.l_orderkey % 5 <> 0
        ),
        ccn AS (
            SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS c
            FROM (SELECT src AS k FROM hedges
                  UNION ALL SELECT dst FROM hedges)
        ),
        sg AS (
            SELECT CAST(8 * COUNT(*) AS BIGINT) AS c
            FROM documents WHERE doc_id % 5 <> 0
        )
        SELECT store, rows_before, rows_after, rows_dropped, files_after
        FROM (
            SELECT 'cc' AS store, c AS rows_before, c AS rows_after,
                   CAST(0 AS BIGINT) AS rows_dropped,
                   CAST(1 AS BIGINT) AS files_after
            FROM ccn
            UNION ALL
            SELECT 'ffd', nb, na, nb - na, CAST(1 AS BIGINT) FROM ffdm
            UNION ALL
            SELECT 'sig', c, c, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM sg
            UNION ALL
            SELECT 'ivf_centroids', ncent, ncent, CAST(0 AS BIGINT),
                   CAST(1 AS BIGINT) FROM ivn
            UNION ALL
            SELECT 'ivf_lists', nlists, nlists, CAST(0 AS BIGINT),
                   CAST(1 AS BIGINT) FROM ivn
        )
        ORDER BY store
    """


@register(
    "maintenance_store_compact",
    oracle=_compact_oracle(),
    doc="Semantics-preserving compaction of the FOUR incremental-state "
    "stores with an oracle-hashed size ledger: sig/cc and the IVF "
    "centroid+lists pair are deduped and rewritten as one file (rows "
    "must come back UNCHANGED — all four are distinct by construction, "
    "so any row delta is corruption the hash would catch), the ffd run "
    "table is run-merged (adjacent contiguous equal-cap runs coalesce; "
    "the per-bin capacity sequence the FFD continuation reads is "
    "invariant). The oracle recomputes every before/after count "
    "independently from the base tables — sig = 8 bands x history "
    "docs, cc = distinct co-occurring part nodes, ffd = the unrolled "
    "history-phase FFD state and its LAG-window merged-run count, ivf "
    "= the unrolled history kmeans' centroid and assignment row counts "
    "— so the compaction arithmetic is under the driver hash, not "
    "just asserted. Results-identity from "
    "the compacted copies is proved in tests/test_semantics.py via the "
    "explicit *_from_store seams. Writes go to <store>_compact; the "
    "canonical store paths are never repointed (a registry run must "
    "not change other queries' answers mid-session).",
)
def maintenance_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solarflare_etl_pipeline_spark.operators.analytics import (
        ensure_cc_label_store,
    )
    from solarflare_etl_pipeline_spark.operators.similarity import (
        ensure_ivf_index_store,
        ensure_signature_store,
    )
    from solarflare_etl_pipeline_spark.operators.text import (
        ensure_ffd_run_store,
    )

    # Resolve (and if cold, build) the store paths serially —
    # state.build_once checks then builds, without a lock.
    cc_path = ensure_cc_label_store(spark, sf_dir)
    ffd_path = ensure_ffd_run_store(spark, sf_dir)
    sig_path = ensure_signature_store(spark, sf_dir)
    ivf_path = ensure_ivf_index_store(spark, sf_dir)

    def _dedup_rewrite(tag: str, path: str) -> tuple[str, int, int, int, int]:
        out = path + "_compact"
        nb, na = _observed_rewrite(
            spark.read.parquet(path), out, DataFrame.dropDuplicates
        )
        return (tag, nb, na, nb - na, len(_part_files(out)))

    def _ffd_merge() -> tuple[str, int, int, int, int]:
        # ffd: the run table is dimension-sized (<= ~130 rows by the
        # run-compression bound) — driver-side merge is the same
        # bounded-state legitimacy as the FFD assignment ledger itself.
        raw = [
            (int(r["pos"]), int(r["cap"]), int(r["cnt"]))
            for r in spark.read.parquet(ffd_path).collect()
        ]
        merged = merge_adjacent_runs(raw)
        spark.createDataFrame(
            merged, "pos long, cap long, cnt long"
        ).coalesce(1).write.mode("overwrite").parquet(ffd_path + "_compact")
        # rows_after == len(merged) by construction (the write is the
        # local list, one file), so no read-back recount job.
        return (
            "ffd",
            len(raw),
            len(merged),
            len(raw) - len(merged),
            len(_part_files(ffd_path + "_compact")),
        )

    # Five independent compactions (distinct inputs, distinct output
    # paths); the ledger is sorted, so completion order cannot change it.
    ledger = run_concurrently(
        spark,
        [
            lambda: _dedup_rewrite("cc", cc_path),
            _ffd_merge,
            lambda: _dedup_rewrite("sig", sig_path),
            lambda: _dedup_rewrite("ivf_centroids", ivf_path + "/centroids"),
            lambda: _dedup_rewrite("ivf_lists", ivf_path + "/lists"),
        ],
    )
    return spark.createDataFrame(sorted(ledger), _LEDGER_SCHEMA)


@register(
    "maintenance_store_ttl",
    oracle="""
        WITH h AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(COALESCE(SUM(CASE WHEN doc_id % 97 = 0
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS t
            FROM documents WHERE doc_id % 5 <> 0
        ),
        v AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(COALESCE(SUM(CASE WHEN vec_id % 97 = 0
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS t
            FROM embeddings WHERE vec_id % 5 <> 0
        )
        SELECT store, rows_before, rows_after, rows_dropped, keys_dropped
        FROM (
            SELECT 'ivf_lists' AS store, c AS rows_before,
                   c - t AS rows_after, t AS rows_dropped,
                   t AS keys_dropped
            FROM v
            UNION ALL
            SELECT 'sig', 8 * c, 8 * (c - t), 8 * t, t FROM h
        )
        ORDER BY store
    """,
    doc="Deletion (TTL / retention / right-to-erasure) applied to the "
    "keyed state stores: bands of tombstoned corpus docs (doc_id % 97 "
    "= 0 — the deterministic stand-in for a deletion list) leave the "
    "signature banding store, and tombstoned vectors (vec_id % 97 = "
    "0) leave the IVF inverted lists (the trained centroids stay — a "
    "coarse quantizer remains valid after deletions; the deleted "
    "vectors must just stop being returned); each store is rewritten "
    "to a _ttl path with the oracle recomputing the before/after/"
    "dropped counts from the base tables (8 bands per doc; one list "
    "row per history vector). Deliberately NOT semantics-preserving — "
    "deleted keys must stop producing results — so "
    "tests/test_semantics.py proves the TTL'd banding store is "
    "band-for-band IDENTICAL to a store rebuilt from the reduced "
    "corpus (entailing every downstream incremental result equals the "
    "rebuilt-ground-truth result), and that the TTL'd ANN index never "
    "returns a deleted neighbor while keeping dense deterministic "
    "ranks. The canonical store paths are never repointed. At 100 TB this is one filter+rewrite pass over "
    "an 8-rows-per-doc table (bands, not documents), i.e. O(corpus "
    "keys) not O(corpus bytes), and the deletion list joins in as a "
    "broadcast.",
)
def maintenance_store_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solarflare_etl_pipeline_spark.operators.similarity import (
        ensure_ivf_index_store,
        ensure_signature_store,
    )

    ivf_path = ensure_ivf_index_store(spark, sf_dir)
    sig_path = ensure_signature_store(spark, sf_dir)

    def _ttl_rewrite(
        tag: str, path: str, out: str, key: str
    ) -> tuple[str, int, int, int, int]:
        part = spark.read.parquet(path)
        tomb = F.pmod(F.col(key), F.lit(97)) == 0
        nb, na = _observed_rewrite(part, out, lambda df: df.where(~tomb))
        # keys_dropped needs COUNT(DISTINCT) over the tombstoned rows,
        # which observe() rejects, so it stays its own job.
        nd = part.where(tomb).select(key).distinct().count()
        return (tag, nb, na, nb - na, nd)

    # ANN deletion: tombstoned vectors leave the inverted lists (the
    # centroids stay — a trained coarse quantizer remains valid after
    # deletions; deleted vectors must just stop being returned, proved
    # in tests/test_semantics.py). The two rewrites are independent and
    # the ledger is sorted.
    rows = run_concurrently(
        spark,
        [
            lambda: _ttl_rewrite(
                "ivf_lists", ivf_path + "/lists", ivf_path + "/lists_ttl", "vec_id"
            ),
            lambda: _ttl_rewrite("sig", sig_path, sig_path + "_ttl", "doc_id"),
        ],
    )
    return spark.createDataFrame(
        sorted(rows),
        "store string, rows_before long, rows_after long, "
        "rows_dropped long, keys_dropped long",
    )
