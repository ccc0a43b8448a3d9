"""Seeded benchmark inputs.

Everything a workload consumes is a function of ``(scale, seed)``:
the ``documents`` table (the sf0.1 ``documents`` shape: doc_id, text,
lang, source, n_chars), the pages generated from it by
``ferenda_spark.corpus.pages_from_documents``, the delta batches and
the query stream.  The fixed corpora (``BASE_SEED``) are shared by
every seed.  Inputs are written once per seed under the work
directory and reused by later runs with the same seed; generation is
never part of a timed section or of ``setup_s``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import random

import pandas as pd

# the sf0.1 documents vocabulary and language mix
VOCAB = ("a agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
N_SOURCES = 20
# every replica of the document table gets its own doc_id block; a
# block start that is a multiple of 4 keeps the corpus's sameAs groups
# (doc_id // 4) inside one replica, and equal-width ids keep the
# canonical member the lowest doc_id (canonicalize's (length, value)
# order)
ID_BLOCK = 1_000_000
# seed of the fixed corpora: kg_build's pool, and the corpus behind
# kg_delta's starting state and kg_query's sink
BASE_SEED = 0


@dataclasses.dataclass(frozen=True)
class Scale:
    name: str
    docs: int            # distinct documents per replica
    copies: int          # replicas with offset doc_ids
    pool: int            # kg_build draws its docs from this many
    delta_batches: int
    delta_new: int       # per batch: pages never seen before
    delta_changed: int   # per batch: committed pages with new bytes
    delta_same: int      # per batch: committed pages re-delivered as-is
    queries: int         # length of the query stream

    @property
    def pages(self) -> int:
        return self.docs * self.copies


SCALES = {
    "full": Scale("full", docs=500, copies=2, pool=2000, delta_batches=12,
                  delta_new=24, delta_changed=16, delta_same=24,
                  queries=128),
    # sf0.001 has 500 documents
    "smoke": Scale("smoke", docs=500, copies=1, pool=500, delta_batches=2,
                   delta_new=8, delta_changed=4, delta_same=4,
                   queries=32),
}


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 80)))


def _doc(doc_id: int, rng: random.Random) -> dict:
    text = _text(rng)
    return {"doc_id": doc_id, "text": text,
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": "src%d" % (doc_id % N_SOURCES),
            "n_chars": len(text)}


def documents(scale: Scale, seed: int, docs: int | None = None
              ) -> pd.DataFrame:
    """A corpus: ``docs`` (default ``scale.docs``) seeded documents
    replicated ``scale.copies`` times with offset doc_ids, so every url
    is distinct."""
    rng = random.Random(seed)
    base = [_doc(i, rng) for i in range(docs or scale.docs)]
    rows = [dict(d, doc_id=(k + 1) * ID_BLOCK + d["doc_id"])
            for k in range(scale.copies) for d in base]
    return pd.DataFrame(rows)


def build_sample(scale: Scale, seed: int, pool: pd.DataFrame
                 ) -> pd.DataFrame:
    """kg_build's corpus for ``seed``: ``scale.docs`` documents per
    replica drawn from the pool corpus in whole sameAs groups (four
    consecutive ids), every replica of each."""
    rng = random.Random(seed * 15485863 + 5)
    groups = set(rng.sample(range(scale.pool // 4), scale.docs // 4))
    keep = (pool["doc_id"] % ID_BLOCK // 4).isin(groups)
    return pool[keep].reset_index(drop=True)


def delta_stream(scale: Scale, seed: int, corpus: pd.DataFrame):
    """Documents of each delta batch, with their kind.

    New pages take fresh doc_ids after the corpus; changed pages are
    committed documents with a new body text (so new html bytes);
    re-delivered pages are committed documents sent again unchanged.
    Changed and re-delivered documents come from disjoint pools, so a
    re-delivered page is always byte-identical to its committed
    version.  Returns a list of DataFrames with an extra ``kind``
    column, one per batch, plus one warm-up batch at index 0 drawn
    from ids no timed batch uses."""
    rng = random.Random(seed * 7919 + 1)
    ids = list(corpus["doc_id"])
    rng.shuffle(ids)
    n_batches = scale.delta_batches + 1
    changed_pool = ids[:n_batches * scale.delta_changed]
    same_pool = ids[n_batches * scale.delta_changed:]
    by_id = corpus.set_index("doc_id")
    next_id = (scale.copies + 1) * ID_BLOCK
    batches = []
    for b in range(n_batches):
        rows = []
        for _ in range(scale.delta_new):
            rows.append(dict(_doc(next_id, rng), kind="new"))
            next_id += 1
        for d in changed_pool[b * scale.delta_changed:
                              (b + 1) * scale.delta_changed]:
            old = by_id.loc[d]
            text = _text(rng)
            rows.append({"doc_id": d, "text": text, "lang": old["lang"],
                         "source": old["source"], "n_chars": len(text),
                         "kind": "changed"})
        for d in rng.sample(same_pool, scale.delta_same):
            rows.append(dict(by_id.loc[d].to_dict(), doc_id=d,
                             kind="same"))
        rng.shuffle(rows)
        batches.append(pd.DataFrame(rows))
    return batches


PREFIX = "https://example.org/res/"
DOC = PREFIX + "doc/%d"

LOOKUPS = {
    "doc_triples": "SELECT DISTINCT ?p ?o WHERE { <%(uri)s> ?p ?o }",
    "doc_refs": """SELECT DISTINCT ?sec ?ref WHERE {
        ?sec dcterms:isPartOf <%(uri)s> .
        ?sec dcterms:references ?ref }""",
    "titles": "SELECT DISTINCT ?t WHERE { <%(uri)s> dcterms:title ?t }",
}

ANALYTICS = {
    "bgp3": """SELECT DISTINCT ?sec ?ref ?doc WHERE {
        ?sec dcterms:isPartOf ?doc .
        ?sec dcterms:references ?ref .
        ?doc dcterms:publisher <%sorg/pub3> }""" % PREFIX,
    "group_having": """SELECT ?doc (COUNT(?part) AS ?n) WHERE {
        ?part dcterms:isPartOf ?doc } GROUP BY ?doc
        HAVING (COUNT(?part) > 6)""",
    "path": """SELECT DISTINCT ?part ?doc WHERE {
        ?doc a bibo:Document .
        ?part dcterms:isPartOf* ?doc }""",
    "construct": """CONSTRUCT { ?doc dcterms:references ?ref } WHERE {
        ?sec dcterms:isPartOf ?doc .
        ?sec dcterms:references ?ref .
        ?doc dcterms:publisher <%sorg/pub5> }""" % PREFIX,
}

# one client, closed loop: each round is three lookups then one
# whole-graph query, the analytic template rotating
ROUND = ("lookup", "lookup", "lookup", "analytic")
# the unit of a run: every analytic template once
CYCLE = len(ROUND) * len(ANALYTICS)


def query_stream(scale: Scale, seed: int, corpus: pd.DataFrame) -> list:
    """[{"kind", "template", "sparql"}] for the query workload.
    Lookup subjects are canonical document uris (doc_id // 4 * 4, the
    sameAs representative) or one of their sections."""
    rng = random.Random(seed * 104729 + 3)
    ids = list(corpus["doc_id"])
    out, analytic, lookup = [], 0, 0
    # templates rotate in a fixed order, so every seed runs the same
    # template sequence; the seed draws the subjects
    for i in range(scale.queries):
        if ROUND[i % len(ROUND)] == "analytic":
            name = sorted(ANALYTICS)[analytic % len(ANALYTICS)]
            analytic += 1
            out.append({"kind": "analytic", "template": name,
                        "sparql": ANALYTICS[name]})
            continue
        name = sorted(LOOKUPS)[lookup % len(LOOKUPS)]
        uri = DOC % (rng.choice(ids) // 4 * 4)
        # every other titles lookup asks for a section's title
        if name == "titles" and lookup // len(LOOKUPS) % 2:
            uri += "#S1"
        lookup += 1
        out.append({"kind": "lookup", "template": name, "uri": uri,
                    "sparql": LOOKUPS[name] % {"uri": uri}})
    return out


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def read_json(path: str):
    with open(path) as fh:
        return json.load(fh)
