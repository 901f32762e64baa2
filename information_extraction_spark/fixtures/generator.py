"""Deterministic synthetic fixture generator (FIXTURES.md).

Builds, from a fixed seed and no external data:

* ``schemas`` — 50-relation dimension, one predicate duplicated with a
  second subject_type (reference 成立日期 carries two schemas,
  produce_submit_json_file.py:63; first-listed wins at emit, :275),
* a global entity pool (CJK names, ASCII names, book titles, 1-char
  entities, mixed-case strings) and a knowledge base of (predicate,
  subject, object) entries — the deterministic stand-in for model
  weights,
* ``transcripts`` — multi-turn conversations (conv_id, turn_idx, role,
  text, tool, ts) whose turn texts embed KB entity pairs; rows are
  returned SHUFFLED so tests must prove window-ordering (reference
  analog: SequentialSampler file order, classification/predict.py:27-28),
* ``golden_triples`` — the exact output of the reference-semantics
  extractor (kernels.reference_extract) over the CLEAN KB,
* a noisy KB (drops + spurious entries) that lands pipeline P/R just
  above the 0.95 gate, keeping the eval discriminative,
* ``alias_dict`` — canonical→alias rows with chains (a→b→c) and one
  high-fanout head entity to exercise skew in the linking join.

Everything is pandas/stdlib only so tests and the bench harness can
generate fixtures without a SparkSession.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pandas as pd

from information_extraction_spark.kernels.extraction import reference_extract

SEED = 42

_CJK_CHARS = (
    "金木水火土山川河海天地玄黄宇宙洪荒日月盈昃辰宿列张寒来暑往秋收冬藏"
    "闰余成岁律吕调阳云腾致雨露结为霜剑号巨阙珠称夜光果珍李柰菜重芥姜"
)
_ASCII_FIRST = [
    "alice", "bob", "carol", "david", "erin", "frank", "grace", "heidi",
    "ivan", "judy", "karl", "laura", "mallory", "nina", "oscar", "peggy",
]
_ASCII_LAST = [
    "zhang", "wang", "li", "zhao", "chen", "smith", "jones", "brown",
    "garcia", "miller", "davis", "wilson", "moore", "taylor", "thomas",
]
_FILLERS = [
    "相关资料显示如此",
    "详见档案记录",
    "according to the archive",
    "as noted in the log",
    "众所周知",
    "record confirmed",
]
_ROLES = ["user", "assistant", "tool"]
_TOOLS = [None, "search", "lookup", None, "calc", None]

# Triples-per-turn distribution ≈ reference (43% 1, 33% 2, 12% 3 …,
# pytorch/analysis/spo_count.py:49-50) plus ~5% empty turns
# (exercises keep-empty + top-k fallback,
# prepare_data_for_labeling_infer.py:23-33).
_SPO_COUNT_WEIGHTS = [(0, 5), (1, 43), (2, 33), (3, 12), (4, 7)]


@dataclass
class World:
    """The deterministic universe shared by all fixture tables."""

    schemas: pd.DataFrame  # schema_id, predicate, subject_type, object_type
    kb_clean: pd.DataFrame  # predicate, subject, object
    kb_noisy: pd.DataFrame
    alias_dict: pd.DataFrame  # canonical, alias
    # predicate -> first-listed (subject_type, object_type)
    schema_types: dict[str, tuple[str, str]] = field(default_factory=dict)
    entities: list[str] = field(default_factory=list)
    book_entities: set[str] = field(default_factory=set)


def _make_entities(rng: random.Random) -> tuple[list[str], set[str]]:
    entities: set[str] = set()
    # CJK multi-char names (2-4 chars).
    while len(entities) < 70:
        n = rng.choice([2, 2, 3, 3, 4])
        entities.add("".join(rng.choice(_CJK_CHARS) for _ in range(n)))
    # ASCII two-word names, some mixed-case (lowercase rule,
    # calc_pr.py:82-83).
    for _ in range(50):
        name = f"{rng.choice(_ASCII_FIRST)} {rng.choice(_ASCII_LAST)}"
        if rng.random() < 0.3:
            name = name.title()
        entities.add(name)
    # Single-char entities (dropped by the len>=2 filter,
    # produce_submit_json_file.py:278-281).
    for _ in range(12):
        entities.add(rng.choice(_CJK_CHARS))
    book_entities: set[str] = set()
    # Book-title entities: bare name in KB/golden, wrapped 《》 in text
    # (calc_pr.py:41-45 strips the brackets at eval).
    for _ in range(25):
        n = rng.choice([2, 3])
        name = "".join(rng.choice(_CJK_CHARS) for _ in range(n))
        entities.add(name)
        book_entities.add(name)
    return sorted(entities), book_entities


def _make_schemas(rng: random.Random) -> pd.DataFrame:
    types = [
        "人物", "影视作品", "图书作品", "机构", "企业", "地点",
        "Date", "学校", "歌曲", "国家",
    ]
    rows = []
    # 48 unique predicates + one predicate listed twice with a different
    # subject_type = 50 rows.
    predicates = [f"rel{i:02d}" for i in range(24)] + [
        "作者", "导演", "主演", "出生地", "毕业院校", "所属专辑", "国籍",
        "创始人", "董事长", "出品公司", "编剧", "歌手", "作词", "作曲",
        "改编自", "出版社", "总部地点", "注册资本", "首都", "面积",
        "人口数量", "官方语言", "朝代", "字",
    ]
    for i, pred in enumerate(predicates):
        rows.append(
            {
                "schema_id": i,
                "predicate": pred,
                "subject_type": rng.choice(types),
                "object_type": rng.choice(types),
            }
        )
    # The dual-schema predicate (first-listed wins, like 成立日期 →
    # [(Date, 机构), (Date, 企业)] in produce_submit_json_file.py:63).
    rows.append(
        {
            "schema_id": 48,
            "predicate": "成立日期",
            "subject_type": "机构",
            "object_type": "Date",
        }
    )
    rows.append(
        {
            "schema_id": 49,
            "predicate": "成立日期",
            "subject_type": "企业",
            "object_type": "Date",
        }
    )
    return pd.DataFrame(rows)


def _make_kb(
    rng: random.Random,
    entities: list[str],
    predicates: list[str],
    entries_per_predicate: int = 12,
) -> pd.DataFrame:
    multi = [e for e in entities if len(e) >= 2]
    single = [e for e in entities if len(e) == 1]
    rows = []
    seen = set()
    for pred in predicates:
        for _ in range(entries_per_predicate):
            s = rng.choice(multi)
            r = rng.random()
            if r < 0.05:
                o = s  # subject == object (odd-occurrence rule, tagging.py:25-26)
            elif r < 0.10 and single:
                o = rng.choice(single)  # len-1 object → filtered at emit
            else:
                o = rng.choice(multi)
            key = (pred, s, o)
            if key in seen:
                continue
            seen.add(key)
            rows.append({"predicate": pred, "subject": s, "object": o})
    return pd.DataFrame(rows)


def _make_alias_dict(rng: random.Random, entities: list[str]) -> pd.DataFrame:
    multi = [e for e in entities if len(e) >= 2]
    rows = []
    chosen = rng.sample(multi, min(30, len(multi)))
    for e in chosen:
        canonical = e.lower()
        rows.append({"canonical": canonical, "alias": e.upper().lower()})
        rows.append({"canonical": canonical, "alias": f"《{e}》".lower()})
    # Chains a→b, b→c (connected-components must merge all three).
    chain = rng.sample(multi, 6)
    for a, b in zip(chain, chain[1:]):
        rows.append({"canonical": a.lower(), "alias": b.lower()})
    # Head entity with many aliases (skew in the broadcast join).
    head = chosen[0].lower()
    for i in range(40):
        rows.append({"canonical": head, "alias": f"{head}-alt{i:02d}"})
    out = pd.DataFrame(rows).drop_duplicates(ignore_index=True)
    return out


def build_world(
    seed: int = SEED, entries_per_predicate: int = 12
) -> World:
    """Deterministic world: schemas + entity pool + clean/noisy KB +
    alias dict."""
    rng = random.Random(seed)
    entities, book_entities = _make_entities(rng)
    schemas = _make_schemas(rng)
    predicates = schemas["predicate"].drop_duplicates().tolist()
    kb_clean = _make_kb(rng, entities, predicates, entries_per_predicate)

    # Noisy KB: drop ~1.5% (recall loss) and add ~1.5% spurious
    # entries (precision loss), keeping pipeline P/R near-but-above
    # the 0.95 gate (FIXTURES.md §5).
    noisy = kb_clean.copy()
    keep = [rng.random() >= 0.015 for _ in range(len(noisy))]
    noisy = noisy[keep].reset_index(drop=True)
    multi = [e for e in entities if len(e) >= 2]
    spurious = []
    n_spurious = max(1, int(len(kb_clean) * 0.015))
    for _ in range(n_spurious):
        spurious.append(
            {
                "predicate": rng.choice(predicates),
                "subject": rng.choice(multi),
                "object": rng.choice(multi),
            }
        )
    kb_noisy = pd.concat(
        [noisy, pd.DataFrame(spurious)], ignore_index=True
    ).drop_duplicates(ignore_index=True)

    schema_types: dict[str, tuple[str, str]] = {}
    for row in schemas.sort_values("schema_id").itertuples():
        schema_types.setdefault(
            row.predicate, (row.subject_type, row.object_type)
        )
    alias_dict = _make_alias_dict(rng, entities)
    return World(
        schemas=schemas,
        kb_clean=kb_clean,
        kb_noisy=kb_noisy,
        alias_dict=alias_dict,
        schema_types=schema_types,
        entities=entities,
        book_entities=book_entities,
    )


def _turn_text(rng: random.Random, world: World, kb_rows: pd.DataFrame) -> str:
    """Compose one turn's text embedding the sampled KB pairs.

    Entities must be substrings of the text
    (pytorch/analysis/check_composition.py:21-29); book entities are
    wrapped in 《》 in the surface form only. Max 300 chars (reference
    max, pytorch/analysis/max_length.py:15-17).
    """
    n = rng.choices(
        [c for c, _ in _SPO_COUNT_WEIGHTS],
        weights=[w for _, w in _SPO_COUNT_WEIGHTS],
    )[0]
    if n == 0:
        return rng.choice(_FILLERS) + rng.choice(_FILLERS)
    parts = []
    picks = kb_rows.sample(n=min(n, len(kb_rows)), random_state=rng.randint(0, 2**31))
    for row in picks.itertuples():
        s = f"《{row.subject}》" if row.subject in world.book_entities else row.subject
        o = f"《{row.object}》" if row.object in world.book_entities else row.object
        if row.subject == row.object:
            # Mention the shared entity twice so the odd-occurrence
            # rule has two offsets to split.
            parts.append(f"{s}与{o}有{row.predicate}之关联")
        else:
            parts.append(f"{s}的{row.predicate}是{o}")
    text = "，".join(parts) + "。" + rng.choice(_FILLERS)
    return text[:300]


def generate_transcripts(
    world: World,
    n_convs: int = 50,
    avg_turns: int = 8,
    hot_convs: int = 2,
    hot_factor: int = 10,
    seed: int = SEED,
) -> pd.DataFrame:
    """Multi-turn transcripts with skewed conversation sizes.

    ``hot_convs`` conversations get ``hot_factor``× the median turn
    count (FIXTURES.md: exercises skew salting). Rows are returned
    SHUFFLED; any consumer must restore order via (conv_id, turn_idx).
    """
    rng = random.Random(seed + 1)
    base_ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = []
    kb = world.kb_clean
    duplicate_pool: list[str] = []
    for ci in range(n_convs):
        conv_id = f"conv{ci:06d}"
        n_turns = (
            avg_turns * hot_factor
            if ci < hot_convs
            else max(2, int(rng.gauss(avg_turns, 2)))
        )
        for ti in range(n_turns):
            r = rng.random()
            if r < 0.03:
                text = ""  # empty turn (P12 filter, labeling/dataset.py:52-53)
            elif r < 0.08 and duplicate_pool:
                # Verbatim duplicate across convs (dict-keyed-by-text
                # edge case in calc_pr, SURVEY §2.3 J7).
                text = rng.choice(duplicate_pool)
            else:
                text = _turn_text(rng, world, kb)
                if rng.random() < 0.1:
                    duplicate_pool.append(text)
            role = _ROLES[ti % len(_ROLES)]
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": ti,
                    "role": role,
                    "text": text,
                    "tool": rng.choice(_TOOLS) if role == "tool" else None,
                    "ts": base_ts
                    + timedelta(hours=ci)
                    + timedelta(seconds=30 * ti),
                }
            )
    df = pd.DataFrame(rows)
    # Shuffle rows deterministically — consumers must NOT rely on
    # file/row order (the reference did, via SequentialSampler).
    df = df.sample(frac=1.0, random_state=seed + 2).reset_index(drop=True)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def compute_golden(
    world: World, transcripts: pd.DataFrame, kb: pd.DataFrame | None = None
) -> pd.DataFrame:
    """Reference-semantics golden triples for every non-empty turn.

    Runs the pure-Python parity oracle (kernels.reference_extract) over
    the clean KB — this IS what the reference pipeline would emit with
    a perfect model, including cross-pair cartesian products and the
    len>=2 / dedup rules. The KB is passed as a plain
    ``{predicate: [(subject, object)]}`` dict, so the golden runs the
    direct classifier and shares no code with the KnowledgeBase kernel
    it checks; entries are deduped in first-seen order, as the
    kernel's KB is.
    """
    kb = world.kb_clean if kb is None else kb
    kb_by_predicate: dict[str, list[tuple[str, str]]] = {}
    for p, s, o in dict.fromkeys(kb.itertuples(index=False, name=None)):
        kb_by_predicate.setdefault(p, []).append((s, o))
    rows = []
    for row in transcripts.itertuples():
        if not row.text:
            continue
        for s, p, o, st, ot in reference_extract(
            row.text, kb_by_predicate, world.schema_types
        ):
            rows.append(
                {
                    "conv_id": row.conv_id,
                    "turn_idx": row.turn_idx,
                    "text": row.text,
                    "predicate": p,
                    "subject": s,
                    "object": o,
                    "subject_type": st,
                    "object_type": ot,
                }
            )
    golden = pd.DataFrame(
        rows,
        columns=[
            "conv_id",
            "turn_idx",
            "text",
            "predicate",
            "subject",
            "object",
            "subject_type",
            "object_type",
        ],
    )
    golden["turn_idx"] = golden["turn_idx"].astype("int32")
    return golden


def write_fixtures(
    out_dir: str,
    n_convs: int = 50,
    seed: int = SEED,
    with_golden: bool = True,
) -> World:
    """Write the full fixture set as parquet under ``out_dir``."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    world = build_world(seed)
    transcripts = generate_transcripts(world, n_convs=n_convs, seed=seed)
    world.schemas.to_parquet(f"{out_dir}/schemas.parquet", index=False)
    world.kb_clean.to_parquet(f"{out_dir}/kb_clean.parquet", index=False)
    world.kb_noisy.to_parquet(f"{out_dir}/kb_noisy.parquet", index=False)
    world.alias_dict.to_parquet(f"{out_dir}/alias_dict.parquet", index=False)
    # Spark 4 rejects TIMESTAMP(NANOS) parquet outright — write the
    # ts column at Spark-canonical microsecond precision.
    transcripts.to_parquet(
        f"{out_dir}/transcripts.parquet",
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    if with_golden:
        golden = compute_golden(world, transcripts)
        golden.to_parquet(f"{out_dir}/golden_triples.parquet", index=False)
    return world
