"""The ``facade_oltp`` workload: one client calling ``HashDb`` verbs.

The stream is made of 48-operation blocks, and one block is the unit the
benchmark measures. Every block holds the same count of each of the 13
verbs (``BLOCK``); the seed picks only their order and the keys, values
and statements. Twenty-eight of the 48 operations write.

A block makes exactly ``api._CHECKPOINT_EVERY`` (24) KV mutations, so
every block after the first holds one KV lineage checkpoint, at its last
mutation, and a read's cost, which grows with the mutations stacked since
the last checkpoint, repeats from block to block. Blocks after the first
follow one template: each KV mutation is followed by one other operation,
and every third of those is a KV read, so the reads always see the same
stack depths; the seed shuffles the verbs within each of these three
sequences. Block 0 is the untimed warm-up: the block's 24 KV mutations and
one call of every other verb, with its writes ahead of its reads so that
every table, collection and graph exists before it is read.

Expected results come from ``Model``, a pure-Python replay of the same
stream: a last-writer-wins dict with the range semantics of
``operators/kv.py`` (exact pk, closed ``[lo, hi]`` ranges, results ordered
by ``(pk, sk)``), the SQL table rows with their auto-assigned ids, the
directed edge set of the graph and the saved documents.
"""

from __future__ import annotations

import random

VERB_CLASS = {
    "set": "kv_write",
    "clear": "kv_write",
    "get": "kv_read",
    "query_begins": "kv_read",
    "query_between": "kv_read",
    "both_between": "kv_read",
    "sql_insert": "stmt_write",
    "sql_update": "stmt_write",
    "cypher_merge": "stmt_write",
    "doc_save": "stmt_write",
    "sql_select": "stmt_read",
    "cypher_match": "stmt_read",
    "doc_select": "stmt_read",
}
CLASSES = ("kv_read", "kv_write", "stmt_read", "stmt_write")
BLOCK = {
    "set": 18,
    "clear": 6,
    "get": 5,
    "query_begins": 1,
    "query_between": 1,
    "both_between": 1,
    "sql_insert": 1,
    "sql_update": 1,
    "cypher_merge": 1,
    "doc_save": 1,
    "sql_select": 4,
    "cypher_match": 4,
    "doc_select": 4,
}
WRITES = {v for v, c in VERB_CLASS.items() if c.endswith("_write")}

N_PK, N_SK, N_CITY, N_PERSON, N_DOC, N_TAG = 16, 64, 6, 24, 12, 8


class Model:
    """State the facade should hold after the same operations."""

    def __init__(self) -> None:
        self.kv: dict[tuple[str, str], str] = {}
        self.people: list[dict] = []
        self.edges: set[tuple[str, str]] = set()
        self.docs: dict[str, list[str]] = {}

    def kv_range(self, keep, desc=False) -> list[tuple[str, str, str]]:
        rows = [(pk, sk, v) for (pk, sk), v in self.kv.items() if keep(pk, sk)]
        return sorted(rows, reverse=desc)


def _pk(rng) -> str:
    return f"user#{rng.randrange(N_PK):02d}"


def _sk(rng) -> str:
    return f"{rng.choice(('msg', 'follow'))}#{rng.randrange(N_SK):03d}"


def _existing_key(rng, model: Model) -> tuple[str, str]:
    if model.kv and rng.random() < 0.75:
        return rng.choice(sorted(model.kv))
    return _pk(rng), _sk(rng)


def _make_op(verb: str, i: int, rng, m: Model):
    """-> (verb, args, expected), applying writes to the model."""
    if verb == "set":
        pk, sk, value = _pk(rng), _sk(rng), f"v{i}"
        m.kv[(pk, sk)] = value
        return verb, (pk, sk, value), None
    if verb == "clear":
        pk, sk = _existing_key(rng, m)
        m.kv.pop((pk, sk), None)
        return verb, (pk, sk), None
    if verb == "get":
        pk, sk = _existing_key(rng, m)
        return verb, (pk, sk), m.kv.get((pk, sk))
    if verb == "query_begins":
        pk = _pk(rng)
        prefix = f"{rng.choice(('msg', 'follow'))}#0{rng.randrange(7)}"
        keep = lambda p, s: p == pk and s.startswith(prefix)  # noqa: E731
        return verb, (pk, prefix), m.kv_range(keep)
    if verb == "query_between":
        pk, lo = _pk(rng), rng.randrange(N_SK - 16)
        lo_s, hi_s = f"msg#{lo:03d}", f"msg#{lo + rng.randrange(1, 16):03d}"
        keep = lambda p, s: p == pk and lo_s <= s <= hi_s  # noqa: E731
        return verb, (pk, lo_s, hi_s), m.kv_range(keep)
    if verb == "both_between":
        a, c = rng.randrange(N_PK - 4), rng.randrange(N_SK - 16)
        pk_lo, pk_hi = f"user#{a:02d}", f"user#{a + rng.randrange(1, 4):02d}"
        sk_lo, sk_hi = f"follow#{c:03d}", f"follow#{c + 15:03d}"
        desc = rng.random() < 0.5
        keep = lambda p, s: pk_lo <= p <= pk_hi and sk_lo <= s <= sk_hi  # noqa: E731
        return verb, (pk_lo, pk_hi, sk_lo, sk_hi, desc), m.kv_range(keep, desc)
    if verb == "sql_insert":
        row = {
            "id": len(m.people) + 1,
            "name": f"n{i}",
            "age": rng.randrange(18, 80),
            "city": f"c{rng.randrange(N_CITY)}",
        }
        m.people.append(row)
        stmt = (
            "insert into people (name, age, city) values "
            f"('{row['name']}', {row['age']}, '{row['city']}')"
        )
        return verb, (stmt,), None
    if verb == "sql_update":
        target = rng.choice(m.people)
        age = rng.randrange(18, 80)
        for row in m.people:
            if row["name"] == target["name"]:
                row["age"] = age
        stmt = (
            f"update people set people.age = {age} "
            f"where people.name = '{target['name']}'"
        )
        return verb, (stmt,), None
    if verb == "sql_select":
        city = f"c{rng.randrange(N_CITY)}"
        stmt = f"select * from people where people.city = '{city}'"
        want = sorted(
            (r["id"], r["name"], r["age"], r["city"])
            for r in m.people
            if r["city"] == city
        )
        return verb, (stmt,), want
    if verb == "cypher_merge":
        a, b = rng.sample(range(N_PERSON), 2)
        m.edges.add((f"person:P{a:02d}", f"person:P{b:02d}"))
        stmt = (
            f"merge (p:Person {{'name': 'P{a:02d}'}})-[:KNOWS]->"
            f"(q:Person {{'name': 'P{b:02d}'}})"
        )
        return verb, (stmt,), None
    if verb == "cypher_match":
        a = rng.randrange(N_PERSON)
        src = f"person:P{a:02d}"
        stmt = (
            f"match (p:Person {{'name': 'P{a:02d}'}})-[:KNOWS]->(f:Person) "
            "return f"
        )
        return verb, (stmt,), sorted(d for s, d in m.edges if s == src)
    if verb == "doc_save":
        doc_id = str(rng.randrange(N_DOC))
        tags = [f"tag{t}" for t in rng.sample(range(N_TAG), rng.randrange(1, 4))]
        m.docs[doc_id] = tags
        obj = {"title": f"t{i}", "tags": [{"name": t} for t in tags]}
        return verb, ("notes", doc_id, obj), None
    if verb == "doc_select":
        tag = f"tag{rng.randrange(N_TAG)}"
        stmt = f"select * from notes where notes.~tags[]~name = '{tag}'"
        return verb, (stmt,), sorted(d for d, ts in m.docs.items() if tag in ts)
    raise ValueError(verb)


def _block_verbs(rng, first: bool) -> list[str]:
    """The verbs of one block in run order (see the module docstring)."""
    by_class = {c: [] for c in CLASSES}
    for verb, n in BLOCK.items():
        by_class[VERB_CLASS[verb]] += [verb] * n
    for group in by_class.values():
        rng.shuffle(group)
    if first:
        # the block's KV mutations and one call of every other verb,
        # writes first, the update after the insert it needs
        verbs = by_class["kv_write"] + [v for v in BLOCK if v not in ("set", "clear")]
        verbs.sort(key=lambda v: (v not in WRITES, v == "sql_update"))
        return verbs
    mutations = by_class["kv_write"]
    kv_reads = iter(by_class["kv_read"])
    stmts = by_class["stmt_read"] + by_class["stmt_write"]
    rng.shuffle(stmts)
    stmts = iter(stmts)
    verbs = []
    for i, mutation in enumerate(mutations):
        verbs += [mutation, next(kv_reads) if i % 3 == 2 else next(stmts)]
    return verbs


def make_stream(seed: int, n_blocks: int) -> list[list[tuple]]:
    """``n_blocks`` blocks of ops; block 0 is the warm-up block."""
    rng = random.Random(seed)
    model = Model()
    blocks = []
    for b in range(n_blocks):
        verbs = _block_verbs(rng, first=b == 0)
        blocks.append(
            [_make_op(v, b * 100 + k, rng, model) for k, v in enumerate(verbs)]
        )
    return blocks


def call(db, verb: str, args: tuple):
    """Run one verb on the facade; return its result in the model's form."""
    if verb in ("set", "clear", "get", "query_begins", "query_between"):
        return getattr(db, verb)(*args)
    if verb == "both_between":
        *keys, desc = args
        return db.both_between(*keys, desc=desc)
    if verb in ("sql_insert", "sql_update"):
        return db.sql(args[0])
    if verb == "sql_select":
        return sorted(
            (r["id"], r["name"], r["age"], r["city"]) for r in db.sql(args[0])
        )
    if verb == "cypher_merge":
        return db.cypher(args[0])
    if verb == "cypher_match":
        return sorted(r["f"] for r in db.cypher(args[0]))
    if verb == "doc_save":
        return db.save(*args)
    if verb == "doc_select":
        return sorted(r["doc_id"] for r in db.sql(args[0]))
    raise ValueError(verb)
