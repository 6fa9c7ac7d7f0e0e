"""Seeded inputs for the benchmark: tables, query streams and ingest batches.

Everything the program receives is made here from the ``--seed``: the
same seed yields the same op stream and byte-identical ingest batches, a
different seed different ones.  The read-only tables are one fixed
dataset (seeded with ``DATA_SEED``, like a benchmark scale factor), so
runs on different seeds differ in what they ask, not in what they ask
it of.  Every generated query comes with the DuckDB SQL that answers it,
so outputs can be checked outside the timed window.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Where the sizes and shares below come from.  The repository holds no
# record of real traffic, so most are assumptions, named as such, for a
# later change to replace when traffic figures exist:
#   LUCENE share 4 in 10      the registry's QueryPlanner entries
#                             (datawave_spark/entries.py): 10 of 25 are
#                             LUCENE
#   option share 1 in 10      the same 25 entries: 3 carry #GROUPBY or
#                             #UNIQUE
#   N_LINEITEM 600k           lineitem at sf0.1, the scale bench.py runs
#   term classes 6/3/1        assumption; long queries (up to 40 terms)
#                             beside short ones, while the registry's
#                             queries have 1-6
#   analytic mix 3/2/3/2      assumption; each ROADMAP item the workload
#                             judges gets at least two jobs in ten
#   N_EVENTS 50k, N_EMBED 800 assumption; half of sf0.1's events and
#                             two fifths of its embeddings, so a 10 s
#                             window holds 15-30 ops
#   batch 800-1200 events     assumption; four to seven batches per 10 s
#   ZIPF_S 1.1, pool sizes    assumption
DATA_SEED = 20240101
N_EVENTS = 50_000
N_LINEITEM = 600_000
N_EMBED = 800
EMBED_DIM = 64
EMBED_LABELS = 12
N_USERS = 1_500
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# hosts and tags are drawn Zipf-style from seeded pools, so a few values
# repeat often and most are rare — the skew the query stream inherits
N_HOSTS = 400
N_TAGS = 60
ZIPF_S = 1.1
T0_NS = 1_704_067_200 * 10**9          # 2024-01-01 00:00:00 UTC
SPAN_NS = 30 * 86_400 * 10**9          # thirty days of events
INGEST_INDEX_FIELDS = ["event_type", "user_id", "host"]
WORDS_PER_TEXT = (4, 12)


# LUCENE reads these as operators in any case
_RESERVED = {"and", "or", "not", "to"}


def _words(rng: np.random.Generator, n: int, lo: int = 3,
           hi: int = 8) -> list[str]:
    """``n`` distinct lowercase words (no regex metacharacters, no
    LUCENE keyword)."""
    out: dict[str, None] = {}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(rng.choice(letters, k))
        if w not in _RESERVED:
            out[w] = None
    return list(out)


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


@dataclass
class Pools:
    hosts: list[str]
    tags: list[str]
    vocab: list[str]
    host_w: np.ndarray = field(repr=False)
    tag_w: np.ndarray = field(repr=False)

    @classmethod
    def make(cls, seed: int = DATA_SEED) -> "Pools":
        rng = np.random.default_rng([seed, 1])
        hosts = _words(rng, N_HOSTS)
        tags = _words(rng, N_TAGS, 2, 5)
        vocab = _words(rng, 300, 3, 7)
        return cls(hosts, tags, vocab, _zipf_weights(N_HOSTS),
                   _zipf_weights(N_TAGS))


def _ts_array(ns: np.ndarray) -> pa.Array:
    # TIMESTAMP(NANOS), as the engine's reference parquet data carries it — the
    # case sources.parquet.read_parquet exists for
    return pa.array(ns, type=pa.timestamp("ns"))


def events_table(seed: int, pools: Pools, n: int = N_EVENTS,
                 first_id: int = 0, with_text: bool = False,
                 stream: int = 2, t0_ns: int = T0_NS,
                 span_ns: int = SPAN_NS) -> pa.Table:
    rng = np.random.default_rng([seed, stream])
    cols = {
        "event_id": pa.array(np.arange(first_id, first_id + n,
                                       dtype=np.int64)),
        "ts": _ts_array(np.sort(t0_ns + rng.integers(0, span_ns, n,
                                                     dtype=np.int64))),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2)),
        "host": pa.array(rng.choice(pools.hosts, n, p=pools.host_w)),
        "tag": pa.array(rng.choice(pools.tags, n, p=pools.tag_w)),
    }
    if with_text:
        lens = rng.integers(*WORDS_PER_TEXT, n)
        words = rng.choice(pools.vocab, int(lens.sum()))
        splits = np.cumsum(lens)[:-1]
        cols["text"] = pa.array([" ".join(w) for w in np.split(words, splits)])
    return pa.table(cols)


def lineitem_table(seed: int, n: int = N_LINEITEM) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    ship = T0_NS - 7 * 365 * 86_400 * 10**9 \
        + rng.integers(0, 7 * 365 * 86_400, n, dtype=np.int64) * 10**9
    return pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(1, n // 4, n))),
        "l_partkey": pa.array(rng.integers(1, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts_array(ship),
    })


def embeddings_table(seed: int, n: int = N_EMBED) -> pa.Table:
    """Label-clustered vectors: a centre per label plus noise, so the
    in-block cosines spread over (0, 1) and a threshold keeps a share."""
    rng = np.random.default_rng([seed, 4])
    labels = rng.integers(0, EMBED_LABELS, n)
    centres = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    vec = centres[labels] + rng.normal(0.0, 0.9, (n, EMBED_DIM))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(root: str, pools: Pools,
                 names: tuple[str, ...] = ("events", "lineitem",
                                           "embeddings"),
                 seed: int = DATA_SEED) -> dict[str, str]:
    """Write the named read-only tables under ``root``; returns
    name → path."""
    make = {"events": lambda: events_table(seed, pools),
            "lineitem": lambda: lineitem_table(seed),
            "embeddings": lambda: embeddings_table(seed)}
    os.makedirs(root, exist_ok=True)
    out = {}
    for name in names:
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(make[name](), path)
        out[name] = path
    return out


# --------------------------------------------------------------- queries

@dataclass
class Op:
    """One generated operation: what the program is asked, and the SQL
    that answers it.  ``kind`` names the op's shape in the layer file;
    ``family`` is its slot in the workload's mix (``MIX``), over which
    latencies are summarised."""
    kind: str
    family: str = ""
    text: str = ""
    syntax: str = "JEXL"
    sql: str = ""               # DuckDB query giving the expected rows
    shape: str = "rows"         # rows | unique | groupby | pairs
    key_cols: list[str] = field(default_factory=list)
    table: str = "events"
    threshold: float = 0.0
    check: bool = True


@dataclass
class Draw:
    """The two random streams a query generator draws from.  ``shape``
    (fields, operators, tree form, options, the order of the mix) is
    seeded by the workload alone, so every run asks the same query
    templates in the same order; ``val`` (the literals) is seeded by
    ``--seed``.  Runs on different seeds then differ in the values they
    ask for, as runs of a TPC query generator do, and not in which
    shapes of query a short window happens to hold."""
    shape: random.Random
    val: random.Random

    @classmethod
    def make(cls, workload: str, seed: int) -> "Draw":
        return cls(random.Random(f"{workload}-shapes"),
                   random.Random(f"{workload}-{seed}"))


def _zipf_pick(d: Draw, pool: list[str], w: np.ndarray) -> str:
    return pool[min(len(pool) - 1,
                    int(np.searchsorted(np.cumsum(w), d.val.random())))]


# A leaf is (jexl, lucene, sql).
def _leaf(d: Draw, pools: Pools, fields: tuple[str, ...],
          indexed_only: bool = False) -> tuple[str, str, str]:
    f = d.shape.choice(fields)
    r = d.shape.random()
    if f == "event_type":
        v = d.val.choice(EVENT_TYPES)
        if r < 0.8 or indexed_only:
            return (f"EVENT_TYPE == '{v}'", f"event_type:{v}",
                    f"event_type = '{v}'")
        p = v[:2] + ".*"
        return (f"EVENT_TYPE =~ '{p}'", f"event_type:/{p}/",
                f"regexp_full_match(event_type, '{p}')")
    if f in ("host", "tag"):
        v = _zipf_pick(d, pools.hosts, pools.host_w) if f == "host" \
            else _zipf_pick(d, pools.tags, pools.tag_w)
        if r < 0.7:
            return (f"{f.upper()} == '{v}'", f"{f}:{v}", f"{f} = '{v}'")
        p = v[:max(1, len(v) // 2)]
        if r < 0.85:
            return (f"{f.upper()} =~ '{p}.*'", f"{f}:{p}*",
                    f"regexp_full_match({f}, '{p}.*')")
        return (f"{f.upper()} =~ '{p}.*'", f"{f}:/{p}.*/",
                f"regexp_full_match({f}, '{p}.*')")
    if f == "user_id":
        if r < 0.5:
            v = int(d.val.paretovariate(1.2) * 10) % N_USERS
            return (f"USER_ID == {v}", f"user_id:{v}", f"user_id = {v}")
        lo = d.val.randrange(0, N_USERS - 50)
        hi = lo + d.val.randrange(5, 400)
        return (f"(USER_ID > {lo} && USER_ID < {hi})",
                f"user_id:{{{lo} TO {hi}}}",
                f"(user_id > {lo} AND user_id < {hi})")
    # value: integer bounds against two-decimal values compare exactly
    lo = d.val.randrange(0, 200)
    hi = lo + d.val.randrange(5, 150)
    if r < 0.7 or indexed_only:
        return (f"(VALUE >= {lo} && VALUE <= {hi})", f"value:[{lo} TO {hi}]",
                f"(value >= {lo} AND value <= {hi})")
    return (f"VALUE > {lo}", f"value:{{{lo} TO 100000}}", f"value > {lo}")


_ALL_FIELDS = ("event_type", "host", "tag", "user_id", "value")


def _tree(d: Draw, pools: Pools, n: int, lucene: bool,
          fields: tuple[str, ...] = _ALL_FIELDS) -> tuple[str, str, str]:
    """A boolean tree over ``n`` leaves; returns (jexl, lucene, sql).

    LUCENE's NOT is only well-defined beside a positive conjunct, so a
    negation is placed as a non-first child of an AND; JEXL negates
    anywhere."""
    if n == 1:
        return _leaf(d, pools, fields)
    k = min(n, d.shape.choice((2, 2, 3, 4)))
    sizes = [1] * k
    for _ in range(n - k):
        sizes[d.shape.randrange(k)] += 1
    kids = [_tree(d, pools, s, lucene, fields) for s in sizes]
    conj = d.shape.random() < 0.6
    j_parts, l_parts, s_parts = [], [], []
    for i, (j, lu, s) in enumerate(kids):
        neg = d.shape.random() < 0.2 and (not lucene or (conj and i > 0))
        j_parts.append(f"!({j})" if neg else j)
        l_parts.append(f"NOT {lu}" if neg else lu)
        s_parts.append(f"NOT ({s})" if neg else s)
    jop, lop, sop = ("&&", "AND", "AND") if conj else ("||", "OR", "OR")
    return ("(" + f" {jop} ".join(j_parts) + ")",
            "(" + f" {lop} ".join(l_parts) + ")",
            "(" + f" {sop} ".join(s_parts) + ")")


def _cycle(rng: random.Random, *slots: list) -> list[tuple]:
    """One cycle of ops: each slot list is shuffled on its own and the
    lists are zipped, so every cycle holds the same mix — a short run
    then sees the workload's proportions, not a random draw of them."""
    cols = []
    for slot in slots:
        slot = list(slot)
        rng.shuffle(slot)
        cols.append(slot)
    return list(zip(*cols))


# per ten queries: six of 1-5 terms, three of 6-15, one of 16-40; four
# are LUCENE; one carries an option, #UNIQUE and #GROUPBY in turn
_TERM_CLASSES = [(1, 5)] * 6 + [(6, 15)] * 3 + [(16, 40)]
_LUCENE = [True] * 4 + [False] * 6
# per ten jobs: three index-driven queries, two #GROUPBY/#UNIQUE over
# events, three over lineitem (one #GROUPBY, two #UNIQUE) and two
# cosine-pair jobs
_ANALYTIC_FAMILIES = (["index"] * 3 + ["events"] * 2
                      + ["lineitem_groupby"] + ["lineitem_unique"] * 2
                      + ["dedup"] * 2)


def _shares(families: list[str]) -> dict[str, float]:
    return {f: families.count(f) / len(families)
            for f in dict.fromkeys(families)}


# Each workload's op families and their share of its ops.  Every cycle
# of ops holds exactly this mix, so the latency summaries weigh each
# family by its share rather than by how many of its ops one short
# window happened to hold.  Interactive queries form one family: their
# cost follows selectivity and options more than term count, and one
# pooled summary over all of them is the steadier one.
MIX = {
    "interactive": {"query": 1.0},
    "analytic": _shares([f.replace("_groupby", "").replace("_unique", "")
                         for f in _ANALYTIC_FAMILIES]),
    "ingest": {"batch": 0.5, "readback": 0.5},
}


def _with_option(d: Draw, option: str, j: str, lu: str,
                 sql_where: str, table: str = "events"
                 ) -> tuple[str, str, str, str, list]:
    """Append #UNIQUE / #GROUPBY (``option``); returns (jexl, lucene,
    sql, shape, key columns)."""
    if option == "unique":
        keys = d.shape.sample(["user_id", "event_type", "tag"],
                              d.shape.randint(1, 2))
        up = ",".join(k.upper() for k in keys)
        return (f"{j} && f:unique({up})", f"{lu} #UNIQUE({','.join(keys)})",
                f"SELECT DISTINCT {', '.join(keys)} FROM {table} "
                f"WHERE {sql_where}", "unique", keys)
    if option == "groupby":
        key = d.shape.choice(["event_type", "tag"])
        return (f"{j} && f:groupby({key.upper()}) && f:max(VALUE)",
                f"{lu} #GROUPBY({key}) #MAX(value)",
                f"SELECT {key}, count(*), max(value) FROM {table} "
                f"WHERE {sql_where} GROUP BY {key}", "groupby", [key])
    return (j, lu, f"SELECT event_id FROM {table} WHERE {sql_where}",
            "rows", ["event_id"])


def interactive_ops(seed: int, pools: Pools, table: str = "events"):
    """Endless seeded stream of JEXL/LUCENE queries (create + first page)."""
    d = Draw.make("interactive", seed)
    for cycle in itertools.count():
        options = [("unique", "groupby")[cycle % 2]] + [""] * 9
        for terms, option, lucene in _cycle(
                d.shape, _TERM_CLASSES, options, _LUCENE):
            j, lu, where = _tree(d, pools, d.shape.randint(*terms), lucene)
            j, lu, sql, shape, keys = _with_option(d, option, j, lu, where,
                                                   table)
            syntax = "LUCENE" if lucene else "JEXL"
            kind = syntax.lower() + ("" if shape == "rows" else "_" + shape)
            yield Op(kind=kind, family="query",
                     text=lu if lucene else j, syntax=syntax,
                     sql=sql, shape=shape, key_cols=keys, table=table)


def analytic_ops(seed: int, pools: Pools):
    """Endless seeded stream of full-result jobs: index-driven queries,
    #GROUPBY/#UNIQUE over events and lineitem, and label-blocked
    embedding near-duplicate pairs.  Two in ten are output-checked."""
    d = Draw.make("analytic", seed)
    while True:
        for family, check in _cycle(d.shape, _ANALYTIC_FAMILIES,
                                    [True] * 2 + [False] * 8):
            if family == "index":
                yield _index_op(d, pools, check)
            elif family == "events":
                yield _events_agg_op(d, pools, check)
            elif family.startswith("lineitem"):
                yield _lineitem_op(d, check, family.endswith("groupby"))
            else:
                t = round(d.val.uniform(0.55, 0.8), 2)
                yield Op(kind="dedup_pairs", family="dedup", shape="pairs",
                         table="embeddings", threshold=t, sql=_dedup_sql(t),
                         check=check)


def _events_agg_op(d: Draw, pools: Pools, check: bool) -> Op:
    j, lu, where = _tree(d, pools, d.shape.randint(1, 6), False)
    if d.shape.random() < 0.3:
        j, _lu, sql, shape, keys = _with_option(d, "unique", j, lu, where)
    else:
        key = d.shape.choice(["event_type", "tag", "host"])
        j = f"{j} && f:groupby({key.upper()}) && f:min(VALUE)"
        sql = (f"SELECT {key}, count(*), min(value) FROM events "
               f"WHERE {where} GROUP BY {key}")
        shape, keys = "groupby", [key]
    return Op(kind=f"events_{shape}", family="events", text=j, sql=sql,
              shape=shape, key_cols=keys, check=check)


def _index_op(d: Draw, pools: Pools, check: bool) -> Op:
    """One shape, seeded values: an indexed equality anchor AND an
    indexed range, a negated indexed term (served by an anti-join
    against the uid universe) and a term on an unindexed field (so the
    fetched events are evaluated again)."""
    parts = [_leaf(d, pools, ("event_type",), indexed_only=True)]
    lo = d.val.randrange(0, N_USERS - 400)
    hi = lo + d.val.randrange(100, 400)
    parts.append((f"USER_ID > {lo} && USER_ID < {hi}", "",
                  f"user_id > {lo} AND user_id < {hi}"))
    v = d.val.randrange(50, 250)
    parts.append((f"!(VALUE > {v})", "", f"NOT (value > {v})"))
    parts.append(_leaf(d, pools, ("host",)))
    j = " && ".join(p[0] for p in parts)
    where = " AND ".join(p[2] for p in parts)
    return Op(kind="index_query", family="index", text=j,
              sql=f"SELECT event_id FROM events WHERE {where}",
              shape="rows", key_cols=["event_id"], check=check)


def _lineitem_op(d: Draw, check: bool, groupby: bool) -> Op:
    q = d.val.randint(1, 45)
    flag = d.val.choice(["A", "N", "R"])
    disc = d.val.randint(0, 10)
    j = f"L_QUANTITY >= {q} && L_DISCOUNT <= {disc / 100:.2f}"
    where = f"l_quantity >= {q} AND l_discount <= {disc / 100:.2f}::DOUBLE"
    if d.shape.random() < 0.5:
        j += f" && L_RETURNFLAG == '{flag}'"
        where += f" AND l_returnflag = '{flag}'"
    if groupby:
        keys = d.shape.choice([["l_linestatus"],
                               ["l_returnflag", "l_linestatus"]])
        gb = ",".join(k.upper() for k in keys)
        return Op(kind="lineitem_groupby", family="lineitem",
                  table="lineitem",
                  text=f"{j} && f:groupby({gb}) && f:max(L_EXTENDEDPRICE)",
                  sql=f"SELECT {', '.join(keys)}, count(*), "
                      f"max(l_extendedprice) FROM lineitem WHERE {where} "
                      f"GROUP BY {', '.join(keys)}",
                  shape="groupby", key_cols=keys, check=check)
    key = "l_suppkey"
    return Op(kind="lineitem_unique", family="lineitem", table="lineitem",
              text=f"{j} && f:unique({key.upper()})",
              sql=f"SELECT DISTINCT {key} FROM lineitem WHERE {where}",
              shape="unique", key_cols=[key], check=check)


def _dedup_sql(t: float) -> str:
    cos = ("round(list_dot_product(a.embedding::DOUBLE[], "
           "b.embedding::DOUBLE[]) / (sqrt(list_dot_product("
           "a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * sqrt("
           "list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))"
           "), 4)")
    return (f"SELECT a.vec_id, b.vec_id, {cos} FROM embeddings a "
            f"JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id "
            f"WHERE {cos} >= {t}")


# --------------------------------------------------------------- ingest

INGEST_BATCH_EVENTS = (800, 1_200)
INGEST_BATCH_SPAN_NS = 6 * 3_600 * 10**9


def ingest_batch(seed: int, pools: Pools, i: int, first_id: int) -> pa.Table:
    """Raw batch ``i``: seeded size, a tokenized ``text`` field, event
    ids continuing from ``first_id`` so uids stay distinct, and event
    times in the six hours after the previous batch's — live data lands
    in the newest one or two date shards."""
    rng = random.Random(f"ingest-size-{seed}-{i}")
    n = rng.randint(*INGEST_BATCH_EVENTS)
    return events_table(seed, pools, n=n, first_id=first_id, with_text=True,
                        stream=100 + i,
                        t0_ns=T0_NS + i * INGEST_BATCH_SPAN_NS,
                        span_ns=INGEST_BATCH_SPAN_NS)


def readback_ops(seed: int, pools: Pools):
    """Read-back queries over the growing store (a first page each).
    Each is one user's events of one type, seeded: too selective to fill
    a page, so every read-back scans the whole store and its cost
    follows the store's growth, not the query's shape.  Four in ten are
    LUCENE."""
    d = Draw.make("readback", seed)
    while True:
        for (lucene,) in _cycle(d.shape, [True] * 4 + [False] * 6):
            u = d.val.randrange(N_USERS)
            t = d.val.choice(EVENT_TYPES)
            yield Op(kind="readback", family="readback",
                     text=(f"user_id:{u} AND event_type:{t}" if lucene
                           else f"USER_ID == {u} && EVENT_TYPE == '{t}'"),
                     syntax="LUCENE" if lucene else "JEXL",
                     sql=f"SELECT event_id FROM events WHERE user_id = {u} "
                         f"AND event_type = '{t}'",
                     shape="rows", key_cols=["event_id"])
