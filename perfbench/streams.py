"""Seeded request streams for the three workloads.

Everything here is pure Python over ``random.Random(seed)``: the same
seed yields the same stream, and the engine sees only the generated
requests. Streams are built in fixed-composition units (a lookup
block, a curation cycle, an llm_batch pass) so that a timed window of
whole units always holds the same mix of request kinds.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

#: export formats the stream draws from. The service supports eight;
#: ``xlsx`` is left out because it needs ``openpyxl``, and without it
#: the export fails by design (a failed op would count in ``failed``).
EXPORT_FORMATS = ("csv", "tsv", "json", "xml", "feather", "parquet", "orc")

#: one lookup block as (kind, table): 6 plain misses, 2 misses with an
#: export, 2 repeats of an earlier request in another spelling (cache
#: hits). Repeats are the fastest kind and exports the slowest, so p50
#: falls in the middle of the plain misses and p90 among the exports,
#: away from any boundary between kinds.
BLOCK = (
    (("plain", "lineitem"),) * 4
    + (("plain", "orders"),) * 2
    + (("export", "lineitem"),) * 2
    + (("repeat", None),) * 2
)
BLOCK_KINDS = tuple(kind for kind, _ in BLOCK)

LOOKUP_TABLES = {
    # table: (key column, key values, order-key column, extra filter
    #         column and its threshold range, projectable columns,
    #         range width in order keys at scale 0.1)
    "lineitem": (
        "l_returnflag", ("A", "N", "R"), "l_orderkey",
        ("l_quantity", 5, 15),
        ("l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_linestatus",
         "l_shipdate"),
        4000,
    ),
    "orders": (
        "o_orderstatus", ("O", "F", "P"), "o_orderkey",
        ("o_totalprice", 25000, 125000),
        ("o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"),
        12000,
    ),
}


@dataclass(frozen=True)
class LookupRequest:
    table: str
    key_value: str
    fields: str
    condition: str
    kind: str  # plain | export | repeat
    export_format: str | None = None
    #: index of the request this one repeats (kind == "repeat")
    repeats: int | None = None
    #: (order-key column, lo, hi): rows must satisfy lo <= col < hi
    key_range: tuple[str, int, int] = ("", 0, 0)


def _spell(rng: random.Random, req: LookupRequest, index: int) -> LookupRequest:
    """The same request in another spelling: field order and case,
    whitespace and AND-term order change; the canonical cache key
    (plans/canonical.py) does not."""
    fields = req.fields.split(",")
    rng.shuffle(fields)
    fields = [f.upper() if rng.random() < 0.5 else f for f in fields]
    terms = req.condition.split(" AND ")
    order = list(range(len(terms)))
    while order == sorted(order):
        rng.shuffle(order)
    glue = rng.choice(("  and ", " AND\t", " And "))
    condition = glue.join(
        terms[i].replace(" ", rng.choice(("  ", " "))).upper()
        if rng.random() < 0.5 else terms[i]
        for i in order
    )
    return LookupRequest(
        req.table, req.key_value, " , ".join(fields), " " + condition + " ",
        "repeat", None, index, req.key_range,
    )


def lookup_stream(seed: int, n_blocks: int, n_orders: int) -> list[LookupRequest]:
    """``n_blocks`` blocks of ``BLOCK`` in seeded order.

    The seed picks key values, projected columns, range offsets and
    filter thresholds; the work per block is held steady: ranges have
    a fixed width, thresholds keep most rows, and exports walk
    ``EXPORT_FORMATS`` in turn from a seeded start. Every miss is
    distinct (its range starts at a fresh offset); every repeat points
    at an earlier request."""
    rng = random.Random(seed)
    scale = n_orders / 150_000
    n_misses = sum(kind != "repeat" for kind in BLOCK_KINDS)
    widths = {t: max(10, int(spec[5] * scale)) for t, spec in LOOKUP_TABLES.items()}
    los = rng.sample(range(n_orders - max(widths.values())), n_blocks * n_misses)
    first_format = rng.randrange(len(EXPORT_FORMATS))
    out: list[LookupRequest] = []
    n_exports = 0
    for _ in range(n_blocks):
        block = list(BLOCK)
        rng.shuffle(block)
        if not out:
            while block[0][0] == "repeat":
                rng.shuffle(block)
        for kind, table in block:
            if kind == "repeat":
                index = rng.choice(
                    [i for i, r in enumerate(out) if r.kind != "repeat"]
                )
                out.append(_spell(rng, out[index], index))
                continue
            key_col, keys, ok_col, (xcol, xlo, xhi), cols, _ = LOOKUP_TABLES[table]
            lo = los.pop()
            hi = lo + widths[table]
            terms = [f"{ok_col} >= {lo}", f"{ok_col} < {hi}", f"{xcol} > {rng.randint(xlo, xhi)}"]
            fmt = None
            if kind == "export":
                fmt = EXPORT_FORMATS[(first_format + n_exports) % len(EXPORT_FORMATS)]
                n_exports += 1
            out.append(
                LookupRequest(
                    table,
                    rng.choice(keys),
                    ",".join([key_col, ok_col] + rng.sample(cols, 2)),
                    " AND ".join(terms),
                    kind,
                    fmt,
                    None,
                    (ok_col, lo, hi),
                )
            )
    return out


@dataclass(frozen=True)
class CurationCycle:
    """One commit-to-visible cycle: upsert ``rows`` (updates of
    existing keys and inserts of new ones), maintain the rollup,
    aggregate, then point-read ``probe_custkey``."""

    rows: list[tuple] = field(repr=False)
    n_updates: int
    n_inserts: int
    probe_custkey: int


STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY_S = 86_400
_EPOCH_1995_S = 788_918_400


def curation_stream(seed: int, n_cycles: int, n_orders: int) -> list[CurationCycle]:
    """Seeded upsert batches over an ``orders`` table holding keys
    ``0..n_orders-1``: the change-data-capture pattern of an order
    table. Each batch updates keys drawn from the most recent eighth of
    the keys (orders change status while they are young) and inserts
    new keys past the current maximum; on a table clustered by key
    both land in the newest files, so every cycle rewrites about the
    same share of the table wherever the seed draws. Rows are
    ``(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    epoch seconds, o_orderpriority)``."""
    rng = random.Random(seed)
    batch = max(20, n_orders // 75)
    n_ins = batch // 5
    n_upd = batch - n_ins
    n_cust = max(1, n_orders // 10)
    recent = n_orders // 8
    next_key = n_orders
    out = []
    for _ in range(n_cycles):
        keys = rng.sample(range(next_key - recent, next_key), n_upd)
        keys += list(range(next_key, next_key + n_ins))
        next_key += n_ins
        rows = [
            (
                k,
                rng.randrange(n_cust),
                rng.choice(STATUSES),
                round(rng.uniform(1000, 500_000), 2),
                _EPOCH_1995_S + rng.randrange(2404) * _DAY_S,
                rng.choice(PRIORITIES),
            )
            for k in keys
        ]
        out.append(CurationCycle(rows, n_upd, n_ins, rows[rng.randrange(len(rows))][1]))
    return out


#: the llm_batch operators, in the order one pass submits them
LLM_OPERATORS = (
    "dedup_near",
    "doc_jaccard_knn",
    "similarity_topk",
    "similarity_ivf",
    "bm25_search",
    "mmr_rerank",
    "cooccur_pmi",
    "chunk_documents",
)

#: non-default, in-bounds parameter choices per operator
#: (service/params.py bounds; the defaults are left out so that no
#: request collapses onto the default pass's cache entry). The ranges
#: stay near the defaults, so a pass does about the same work whatever
#: the seed draws: ``mmr_rerank`` checkpoints one greedy step per selected item
#: while it builds its plan, so ``select_k`` stays next to its default,
#: and ``chunk_documents`` keeps strides that give about as many chunks.
_LLM_CHOICES = {
    "dedup_near": [{"threshold": t / 100} for t in range(70, 91) if t != 80],
    "doc_jaccard_knn": [{"k": k} for k in range(1, 11) if k != 3],
    "similarity_topk": [{"topk": k} for k in range(5, 31) if k != 10],
    "similarity_ivf": [{"topk": k} for k in range(5, 31) if k != 10],
    "bm25_search": [{"topk": k} for k in range(5, 51) if k != 20],
    "mmr_rerank": [{"select_k": s, "pool": p} for s in (4, 6) for p in (16, 18, 22, 24)],
    "cooccur_pmi": [{"top_n": n} for n in range(10, 81) if n != 40],
    "chunk_documents": [
        {"width": w, "stride": s} for w in (56, 64, 72) for s in (40, 44, 52, 56)
    ],
}


def llm_stream(seed: int, n_passes: int) -> list[tuple[str, dict]]:
    """``n_passes`` passes over ``LLM_OPERATORS``, each request with
    seeded params drawn without replacement, so no two requests of
    a stream share a cache key."""
    rng = random.Random(seed)
    draws = {
        name: rng.sample(choices, len(choices))
        for name, choices in _LLM_CHOICES.items()
    }
    n_passes = min(n_passes, min(len(c) for c in draws.values()))
    return [
        (name, draws[name][p]) for p in range(n_passes) for name in LLM_OPERATORS
    ]
