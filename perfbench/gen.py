"""Seeded input generators for the KG-build benchmark.

Everything the measured program reads is made here from ``--seed``
alone and written as parquet before any timing starts: transcripts,
knowledge base, relation schemas, the alias dictionary used for
canonicalization, and the prediction/golden pair scored by ``calc_pr``.

The generator deliberately does not import the package under test: the
corpus shape follows the package's documented document->transcript
reshape (12-word turns, per-replica ``zq<rep>`` marker, role/tool/ts
derivation) and KB derivation (vocabulary subjects, top-200 bigram
objects, 50 predicates x 12 entries), restated here so that a change to
the package cannot silently change the benchmark's inputs.

Sizes are fixed per workload; a seed changes content, not size. The
base knowledge base is fixed per workload too: it is derived from a
reference corpus that does not depend on the seed, so that every seed's
graph has nearly the same number of triples (within about 3% over
seeds) and per-predicate sizes, and throughput and lookup latency
compare across seeds. A KB derived from each seed's own corpus made
the graph's row count, and with it ``build_triples_per_s``, spread by
about 6% between seeds on its own.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

# The 31-word vocabulary of the synthetic documents corpus.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
TURN_WORDS = 12
N_PREDICATES = 50
ENTRIES_PER_PREDICATE = 12
N_BIGRAMS = 200
TS_ORIGIN = dt.datetime(2026, 1, 1)

# Per-workload sizes. ``docs`` documents of 10..100 words (~4.6 turns
# each); ``replicate`` textually-distinct replicas (unique) or
# ``copies`` byte-identical copies (dup).
SIZES = {
    "unique": {"docs": 1600, "replicate": 2, "gold_keys": 6000},
    "dup": {"docs": 400, "copies": 12, "gold_keys": 2000},
    "bigdict": {
        "docs": 500,
        "replicate": 1,
        "gold_keys": 2000,
        "kb_pad_entities": 4000,
        "kb_pad_present": 24,
        "alias_edges": 104_000,
        "head_aliases": 3000,
        "chains": 40,
        "chain_len": 3,
    },
    # Self-test scale: seconds, not minutes.
    "tiny": {"docs": 40, "replicate": 2, "gold_keys": 60},
}

TRANSCRIPTS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
KB_SCHEMA = pa.schema(
    [("predicate", pa.string()), ("subject", pa.string()), ("object", pa.string())]
)
SCHEMAS_SCHEMA = pa.schema(
    [
        ("schema_id", pa.int32()),
        ("predicate", pa.string()),
        ("subject_type", pa.string()),
        ("object_type", pa.string()),
    ]
)
ALIAS_SCHEMA = pa.schema([("canonical", pa.string()), ("alias", pa.string())])
EVAL_SCHEMA = pa.schema(
    [
        ("text", pa.string()),
        ("subject", pa.string()),
        ("predicate", pa.string()),
        ("object", pa.string()),
    ]
)


def documents(rng: random.Random, n_docs: int) -> list[str]:
    """``n_docs`` documents whose lengths are a fixed multiset spanning
    10..100 words (shuffled per seed), words uniform over VOCAB."""
    lengths = [10 + (i * 91) // n_docs for i in range(n_docs)]
    rng.shuffle(lengths)
    return [" ".join(rng.choice(VOCAB) for _ in range(n)) for n in lengths]


def doc_turns(doc: str) -> list[str]:
    words = doc.split(" ")
    return [
        " ".join(words[i : i + TURN_WORDS]) for i in range(0, len(words), TURN_WORDS)
    ]


def transcripts(docs: list[str], replicate: int = 1, copies: int = 1) -> list[tuple]:
    """Transcript rows. Replica ``rep`` > 0 appends a ``zq<rep>`` marker
    to every turn (textually distinct); copy ``c`` > 0 repeats the
    replica-0 text byte-identically under another conversation id."""
    rows = []
    for rep in range(max(replicate, copies)):
        marker = f" zq{rep}" if (replicate > 1 and rep > 0) else ""
        for doc_id, doc in enumerate(docs):
            conv = f"doc{doc_id}.{rep}"
            for k, text in enumerate(doc_turns(doc)):
                rows.append(
                    (
                        conv,
                        k,
                        ("user", "assistant", "tool")[k % 3],
                        text + marker,
                        "search" if k % 3 == 2 else None,
                        TS_ORIGIN + dt.timedelta(seconds=doc_id * 3600 + k * 30),
                    )
                )
    return rows


def base_kb(docs: list[str]) -> tuple[list[str], list[tuple[str, str, str]]]:
    """(vocabulary, KB rows): subject = vocab[(7k+3i) mod V], object =
    bigrams[(11k+5i+1) mod B] over the corpus' distinct words (len>=2)
    and top-200 adjacent bigrams by (count desc, bigram asc)."""
    vocab = sorted({w for d in docs for w in d.split(" ") if len(w) >= 2})
    counts: Counter = Counter()
    for d in docs:
        ws = d.split(" ")
        counts.update(a + " " + b for a, b in zip(ws, ws[1:]))
    bigrams = [b for b, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]
    bigrams = bigrams[:N_BIGRAMS]
    v, b = len(vocab), len(bigrams)
    kb = {
        (f"rel{k:02d}", vocab[(7 * k + 3 * i) % v], bigrams[(11 * k + 5 * i + 1) % b])
        for k in range(N_PREDICATES)
        for i in range(ENTRIES_PER_PREDICATE)
    }
    return vocab, sorted(kb)


def schema_rows() -> list[tuple]:
    return [
        (k, f"rel{k:02d}", f"T{k % 7}", f"U{k % 5}") for k in range(N_PREDICATES)
    ]


def vocab_alias_chain(vocab: list[str]) -> list[tuple[str, str]]:
    """word[i] -> word[i+1] with every third edge broken."""
    return [(vocab[i], vocab[i + 1]) for i in range(len(vocab) - 1) if i % 3 != 2]


def _token(rng: random.Random, prefix: str) -> str:
    # No VOCAB word contains "kx", "qh", "qc" or "qs" (and turn markers
    # are "zq<n>"), so these synthetic entities occur in no turn.
    return prefix + "".join(rng.choice("bcdfghjmnpvwxz") for _ in range(7))


def pad_kb(
    rng: random.Random,
    kb: list[tuple[str, str, str]],
    vocab: list[str],
    docs: list[str],
    n_entities: int,
    n_present: int,
) -> list[tuple[str, str, str]]:
    """Pad the KB with ``n_entities`` synthetic entities that occur in
    no turn, plus ``n_present`` seeded extra entries over corpus words
    and bigrams, which do occur."""
    ents = sorted({_token(rng, "kx") for _ in range(n_entities)})
    rows = set(kb)
    for j in range(0, len(ents) - 1, 2):
        rows.add((f"rel{rng.randrange(N_PREDICATES):02d}", ents[j], ents[j + 1]))
    turns = [t for d in docs for t in doc_turns(d)]
    for _ in range(n_present):
        ws = rng.choice(turns).split(" ")
        if len(ws) < 3:
            continue
        i = rng.randrange(len(ws) - 1)
        subj = rng.choice([w for w in ws if len(w) >= 2] or vocab)
        rows.add((f"rel{rng.randrange(N_PREDICATES):02d}", subj, ws[i] + " " + ws[i + 1]))
    return sorted(rows)


def big_alias_dict(
    rng: random.Random,
    vocab: list[str],
    n_edges: int,
    head_aliases: int,
    chains: int,
    chain_len: int,
) -> list[tuple[str, str]]:
    """Alias rows past the driver-side CC threshold: the vocab chain,
    one head entity (a corpus word) with ``head_aliases`` aliases,
    ``chains`` chains of ``chain_len`` synthetic surfaces hung off
    corpus words, and small 2-3 node synthetic components filling the
    rest up to ``n_edges`` rows."""
    rows = list(vocab_alias_chain(vocab))
    head = vocab[len(vocab) // 2]
    seen = set(vocab)

    def fresh(prefix: str) -> str:
        while True:
            t = _token(rng, prefix)
            if t not in seen:
                seen.add(t)
                return t

    rows += [(head, fresh("qh")) for _ in range(head_aliases)]
    for c in range(chains):
        prev = vocab[c % len(vocab)]
        for _ in range(chain_len):
            nxt = fresh("qc")
            rows.append((prev, nxt))
            prev = nxt
    while len(rows) < n_edges:
        a, b = fresh("qs"), fresh("qs")
        rows.append((a, b))
        if rng.random() < 0.3 and len(rows) < n_edges:
            rows.append((b, fresh("qs")))
    return rows


def _norm(entity: str) -> str:
    low = entity.lower()
    return low[1:-1] if low.startswith("《") and low.endswith("》") else low


def eval_pair(
    rng: random.Random,
    texts: list[str],
    kb: list[tuple[str, str, str]],
    alias_rows: list[tuple[str, str]],
    n_keys: int,
) -> tuple[list[tuple], list[tuple], dict]:
    """(golden, predicted, expected) for ``calc_pr``.

    Golden: 1-4 distinct (s, p, o) per key over KB entities and alias
    surfaces. Predicted, per golden triple: dropped (counted), copied
    verbatim (possibly upper-cased or wrapped in 《》), or rewritten to
    an alias-dict canonical whose alias is the golden surface. Plus
    injected never-correct triples over ``neg`` entities that are in no
    alias row. Expected precision/recall follow from the counts."""
    aliases_of: dict[str, list[str]] = {}
    for c, a in alias_rows:
        aliases_of.setdefault(c, []).append(a)
    # alias surface -> a canonical that lists it (for rewriting).
    canon_for: dict[str, str] = {}
    for c, a in alias_rows:
        if c != a:
            canon_for.setdefault(a, c)
    subjects = sorted({s for _, s, _ in kb} | set(canon_for))
    objects = sorted({o for _, _, o in kb} | set(canon_for))
    preds = sorted({p for p, _, _ in kb})
    keys = sorted(set(texts))
    rng.shuffle(keys)
    keys = keys[:n_keys]
    gold, pred = [], []
    dropped = injected = 0
    for key in keys:
        triples = set()
        for _ in range(rng.randint(1, 4)):
            triples.add((rng.choice(subjects), rng.choice(preds), rng.choice(objects)))
        pred_norm = set()
        for s, p, o in sorted(triples):
            gold.append((key, s, p, o))
            r = rng.random()
            if r < 0.1:
                dropped += 1
                continue
            if r < 0.4 and s in canon_for and (canon_for[s], p, o) not in triples:
                s_pred = canon_for[s]
            else:
                s_pred = s
            if (s_pred, p, o) in pred_norm:
                # Two golden triples rewrite to one prediction: keep the
                # verbatim one so every prediction is distinct.
                s_pred = s
            pred_norm.add((s_pred, p, o))
            if r > 0.9:
                pred.append((key, s_pred.upper(), p, f"《{o}》"))
            else:
                pred.append((key, s_pred, p, o))
        if rng.random() < 0.25:
            neg = f"neg{len(pred)}x"
            pred.append((key, neg, rng.choice(preds), neg))
            injected += 1
    g = len(gold)
    correct = g - dropped
    expected = {
        "gold": g,
        "dropped": dropped,
        "injected": injected,
        "correct": correct,
        "predicted": correct + injected,
        "precision": round(correct / (correct + injected), 4),
        "recall": round(correct / g, 4),
        # Rows the alias expansion produces per predicted row
        # ({x} u aliases(x) on both endpoints).
        "expansion_rows": sum(
            (1 + len(aliases_of.get(_norm(s), [])))
            * (1 + len(aliases_of.get(_norm(o), [])))
            for _, s, _, o in pred
        ),
    }
    return gold, pred, expected


def _write(path: str, rows: list[tuple], schema: pa.Schema) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )
    pq.write_table(table, path)
    return path


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write every input of ``workload`` for ``seed`` under ``out_dir``;
    return a manifest of paths, sizes, digests and expected values."""
    size = SIZES[workload]
    rng = random.Random(f"{workload}:{seed}")
    docs = documents(rng, size["docs"])
    rows = transcripts(docs, size.get("replicate", 1), size.get("copies", 1))
    vocab, kb = base_kb(documents(random.Random(f"kb:{workload}"), size["docs"]))
    alias_rows = vocab_alias_chain(vocab)
    if workload == "bigdict":
        kb = pad_kb(
            rng, kb, vocab, docs, size["kb_pad_entities"], size["kb_pad_present"]
        )
        alias_rows = big_alias_dict(
            rng,
            vocab,
            size["alias_edges"],
            size["head_aliases"],
            size["chains"],
            size["chain_len"],
        )
    texts = [r[3] for r in rows]
    gold, pred, expected = eval_pair(rng, texts, kb, alias_rows, size["gold_keys"])
    paths = {
        "transcripts": _write(f"{out_dir}/transcripts.parquet", rows, TRANSCRIPTS_SCHEMA),
        "kb": _write(f"{out_dir}/kb.parquet", kb, KB_SCHEMA),
        "schemas": _write(f"{out_dir}/schemas.parquet", schema_rows(), SCHEMAS_SCHEMA),
        "alias": _write(f"{out_dir}/alias.parquet", alias_rows, ALIAS_SCHEMA),
        "gold": _write(f"{out_dir}/gold.parquet", gold, EVAL_SCHEMA),
        "pred": _write(f"{out_dir}/pred.parquet", pred, EVAL_SCHEMA),
    }
    manifest = {
        "workload": workload,
        "seed": seed,
        "paths": paths,
        "turns": len(rows),
        "distinct_texts": len(set(texts)),
        "kb_rows": len(kb),
        "kb_entities": len({e for _, s, o in kb for e in (s, o)}),
        "alias_rows": len(alias_rows),
        "eval": expected,
        "digests": {k: file_digest(p) for k, p in paths.items()},
    }
    return manifest
