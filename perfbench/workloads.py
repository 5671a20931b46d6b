"""The benchmark's workloads and their seeded inputs.

``hash_route`` is the paper's own surface: ``nproc`` concurrent clients in a
closed loop share one seeded queue holding the cluster/DDL/SQL catalog
queries and SQL ``cluster_slot`` / ``cluster_node`` aggregations over four
generated key sets, each twice but the two ``ddl_*`` queries, which are
queued once.  ``chain_stream`` is one serial client running driver-action
chains that build session memos, then Structured Streaming and
partitioned-sink writes.  NOTES.md says why each was chosen
and what it should and should not move.

The seed fixes the order of the queue and the generated key sets; the
program receives only those inputs.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]  # catalog queries of one pass
    copies: int  # times each query of the pass is queued
    once: tuple[str, ...]  # queries of the pass queued once whatever ``copies`` says
    tables: tuple[str, ...]  # tables those queries read through load_table
    concurrent: bool  # nproc clients instead of one
    key_sets: bool  # add the generated-key aggregations to the pass
    stages_stream: bool  # stage the events replay directory in set-up
    # catalog queries run once, unchecked, at the end of set-up so the JIT
    # has compiled the paths the pass takes; chain_stream leaves out its
    # streaming queries, whose time is mostly the micro-batch trigger
    warmup: tuple[str, ...]


_HASH_ROUTE_QUERIES = (
    "cluster_resharding_key_impact",
    "cluster_scalar_goldens",
    "cluster_node_distribution",
    "cluster_node_arity_sweep",
    "cluster_user_keys_histogram",
    "ddl_readme_flow",
    "ddl_ctas_distribution",
    "cluster_slot_projection",
    "cluster_hashtag_colocation",
    "cluster_hot_slots_topk",
    "cluster_skew_report",
    "cluster_shard_ranges",
    "sql_error_probe",
    "cluster_resharding_plan",
    "sql_portable_text_probe",
    "sql_null_semantics_probe",
    "cluster_rendezvous_placement",
    "cluster_hashring_vnodes",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="hash_route",
            queries=_HASH_ROUTE_QUERIES,
            copies=2,
            # Each drops and re-creates a fixed warehouse table, so two
            # copies of one of them running at once collide at random: a
            # program defect (NOTES.md, "Known defect").  Queued once, they
            # still run beside the other clients' queries, unlocked.
            once=("ddl_readme_flow", "ddl_ctas_distribution"),
            tables=("customer", "orders", "lineitem", "events"),
            concurrent=True,
            key_sets=True,
            stages_stream=False,
            warmup=_HASH_ROUTE_QUERIES,
        ),
        Workload(
            name="chain_stream",
            queries=(
                "tpch_fk_orphan_audit",
                "emb_ivf_kmeans_recall",
                "events_streaming_user_totals",
                "events_streaming_routed_sink",
            ),
            copies=1,
            once=(),
            tables=(
                "region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "embeddings",
            ),
            concurrent=False,
            key_sets=False,
            stages_stream=True,
            warmup=("tpch_fk_orphan_audit", "emb_ivf_kmeans_recall"),
        ),
    )
}


def catalog_queries() -> set[str]:
    """Every catalog query some workload runs (the fingerprinted set)."""
    return {q for w in WORKLOADS.values() for q in w.queries}


# --- generated key sets -----------------------------------------------------

KEYS_PER_SET = 20_000
KEY_SETS = ("short", "tagged", "longtail", "utf8")
_FIELDS = ("profile", "cart", "session", "orders", "feed")
_UTF8_WORDS = ("用户", "ключ", "café", "naïve", "χρήστης", "مستخدم", "キー", "😀emoji")
_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def make_keys(seed: int) -> dict[str, list[str]]:
    """Four key sets of ``KEYS_PER_SET`` keys each, fixed by ``seed``.

    ``longtail`` holds exactly one ~1 KB key per thousand: the positional
    CRC16 kernel pays the longest key of each Arrow batch, so these few
    keys set the cost of the batches they land in.
    """
    rng = random.Random(seed)
    n = KEYS_PER_SET
    short = [f"user:{rng.randrange(10**7)}" for _ in range(n)]
    tagged = [
        f"{{user:{rng.randrange(10**6)}}}:{rng.choice(_FIELDS)}:{rng.randrange(1000)}"
        for _ in range(n)
    ]
    longtail = [f"item:{rng.randrange(10**7)}" for _ in range(n)]
    for i in rng.sample(range(n), n // 1000):
        longtail[i] = "blob:" + "".join(rng.choices(_ALNUM, k=rng.randint(900, 1100)))
    utf8 = []
    for _ in range(n):
        word = rng.choice(_UTF8_WORDS)
        key = f"{word}:{rng.randrange(10**6)}"
        utf8.append(f"{{{key}}}:{rng.choice(_UTF8_WORDS)}" if rng.random() < 0.25 else key)
    return {"short": short, "tagged": tagged, "longtail": longtail, "utf8": utf8}


@dataclass(frozen=True)
class KeyQuery:
    name: str
    sql: str
    key_set: str
    n_nodes: int | None  # None: a slot histogram


def key_queries(seed: int) -> list[KeyQuery]:
    """Two SQL aggregations per key set: the slot histogram, and the node
    histogram for a shard count fixed by ``seed``."""
    rng = random.Random(f"{seed}:nodes")
    out = []
    for ks in KEY_SETS:
        out.append(KeyQuery(
            f"keys_{ks}_slot",
            f"SELECT cluster_slot(key) AS slot, count(*) AS n FROM keys_{ks} GROUP BY 1",
            ks, None,
        ))
        n = rng.randint(3, 16)
        out.append(KeyQuery(
            f"keys_{ks}_node",
            f"SELECT cluster_node(key, {n}) AS node, count(*) AS n FROM keys_{ks} GROUP BY 1",
            ks, n,
        ))
    return out


def expected_counts(keys: list[str], n_nodes: int | None) -> dict[int, int]:
    """Reference histogram from the pure-Python bit-exact hash in ``core``."""
    from duckdb_cluster_hash_spark.core import get_node, get_slot

    if n_nodes is None:
        return dict(Counter(get_slot(k) for k in keys))
    return dict(Counter(get_node(k, n_nodes) for k in keys))


def pass_queue(workload: Workload, seed: int) -> list[str]:
    """The queries of one pass, in the order clients take them: every
    catalog query (and, for ``hash_route``, every generated-key query)
    ``copies`` times, those in ``once`` once, shuffled by ``seed``."""
    names = list(workload.queries)
    if workload.key_sets:
        names += [kq.name for kq in key_queries(seed)]
    queue = [q for q in names * workload.copies if q not in workload.once]
    queue += [q for q in names if q in workload.once]
    random.Random(f"{seed}:{workload.name}").shuffle(queue)
    return queue
