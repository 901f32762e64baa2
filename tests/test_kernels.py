"""Golden tests for the pure extraction kernels.

The two BIESO fixtures are the worked examples embedded in the
reference at labeling/tagging.py:65-85 (《端脑》 multi-actor sentence,
《碑》 book sentence); the BIO fixture is the docstring example at
produce_submit_json_file.py:186-189.
"""

from __future__ import annotations

from information_extraction_spark.kernels import (
    KnowledgeBase,
    assemble_entities,
    bieso_tags,
    classify_predicates,
    decode_bieso,
    decode_bio_tokens,
    find_occurrences,
    reference_extract,
)

DUANNAO_TEXT = (
    "《端脑》改编自有妖气同名漫画《端脑》，是由搜狐视频、有妖气、留白影视出品，"
    "于中中执导，朱元冰、蒋依依、杨奇煜、黄一琳、谢佳见、赵奕欢等人主演的科幻悬疑网络剧"
)
DUANNAO_STARRING = [
    ("端脑", "蒋依依"),
    ("端脑", "朱元冰"),
    ("端脑", "赵奕欢"),
    ("端脑", "黄一琳"),
    ("端脑", "杨奇煜"),
    ("端脑", "谢佳见"),
]

BEI_TEXT = "《碑》是2009年由上海人民出版社出版的图书，作者是维克多·谢阁兰"


def test_find_occurrences_case_insensitive_non_overlapping():
    assert find_occurrences("ab", "xxAByyab") == [2, 6]
    assert find_occurrences("aa", "aaaa") == [0, 2]  # non-overlapping
    assert find_occurrences("a.c", "a.c abc") == [0]  # literal, escaped
    assert find_occurrences("", "abc") == []


def test_bieso_tagging_starring_example():
    """主演 work unit of the 端脑 example (tagging.py:65-71)."""
    tags = bieso_tags(DUANNAO_TEXT, DUANNAO_STARRING)
    assert len(tags) == len(DUANNAO_TEXT)
    # Subject 端脑 occurs twice, both tagged B/E (len 2).
    for off in find_occurrences("端脑", DUANNAO_TEXT):
        assert tags[off] == "B-SUB" and tags[off + 1] == "E-SUB"
    # Each 3-char actor tagged B/I/E-OBJ.
    for actor in ("朱元冰", "蒋依依", "杨奇煜", "黄一琳", "谢佳见", "赵奕欢"):
        off = find_occurrences(actor, DUANNAO_TEXT)[0]
        assert tags[off : off + 3] == ["B-OBJ", "I-OBJ", "E-OBJ"]
    subs, objs = decode_bieso(tags, DUANNAO_TEXT)
    subs, objs = assemble_entities(subs, objs)
    assert subs == ["端脑"]
    assert objs == sorted(
        ["朱元冰", "蒋依依", "杨奇煜", "黄一琳", "谢佳见", "赵奕欢"]
    )


def test_bieso_single_char_entity_gets_S_tag_and_is_filtered():
    """碑 example (tagging.py:73-85): 1-char subject → S-SUB, then the
    len>=2 rule (produce_submit_json_file.py:278-281) drops it."""
    tags = bieso_tags(BEI_TEXT, [("碑", "维克多·谢阁兰")])
    off = find_occurrences("碑", BEI_TEXT)[0]
    assert tags[off] == "S-SUB"
    obj_off = find_occurrences("维克多·谢阁兰", BEI_TEXT)[0]
    assert tags[obj_off] == "B-OBJ"
    assert tags[obj_off + 6] == "E-OBJ"
    subs, objs = decode_bieso(tags, BEI_TEXT)
    assert subs == ["碑"]
    subs, objs = assemble_entities(subs, objs)
    assert subs == []  # filtered: len 1
    assert objs == ["维克多·谢阁兰"]


def test_subject_equals_object_odd_occurrence_rule():
    """改编自 spo of the 端脑 example: subject == object == 端脑
    (tagging.py:25-26): object takes odd-indexed occurrences, which
    overwrite because the object loop runs second."""
    tags = bieso_tags(DUANNAO_TEXT, [("端脑", "端脑")])
    offs = find_occurrences("端脑", DUANNAO_TEXT)
    assert len(offs) == 2
    assert tags[offs[0]] == "B-SUB" and tags[offs[0] + 1] == "E-SUB"
    assert tags[offs[1]] == "B-OBJ" and tags[offs[1] + 1] == "E-OBJ"
    subs, objs = decode_bieso(tags, DUANNAO_TEXT)
    assert subs == ["端脑"] and objs == ["端脑"]


def test_bieso_two_char_and_long_spans():
    text = "abXcdefY"
    tags = bieso_tags(text, [("ab", "cdef")])
    assert tags == ["B-SUB", "E-SUB", "O", "B-OBJ", "I-OBJ", "I-OBJ", "E-OBJ", "O"]


def test_decode_bio_wordpiece_merge():
    """produce_submit_json_file.py:186-189 docstring example."""
    tokens = list("紫菊花草是菊目，菊科，松果菊属的植物")
    labels = (
        ["B-SUB", "I-SUB", "I-SUB", "I-SUB", "O", "B-OBJ", "I-OBJ"]
        + ["O"] * 11
    )
    assert decode_bio_tokens(tokens, labels) == [("SUB", "紫菊花草"), ("OBJ", "菊目")]


def test_decode_bio_wordpiece_hash_merge_and_cls_sep():
    tokens = ["新", "地", "球", "ge", "##nes", "##is", "x"]
    labels = ["[CLS]", "B-SUB", "I-SUB", "I-SUB", "I-SUB", "[##WordPiece]", "[##WordPiece]", "[SEP]", "O"]
    assert decode_bio_tokens(tokens, labels) == [("SUB", "新地球genesis")]


def test_classifier_threshold_and_fallback():
    kb = {
        "主演": [("端脑", "朱元冰")],
        "作者": [("碑", "维克多·谢阁兰")],
        "出版社": [("碑", "上海人民出版社")],
    }
    preds, scores = classify_predicates(DUANNAO_TEXT, kb)
    assert preds == ["主演"] and scores[0] == 1.0
    preds2, _ = classify_predicates(BEI_TEXT, kb)
    assert sorted(preds2) == ["作者", "出版社"]
    # Nothing matches → top-k fallback returns all 3 (k=10 > |kb|),
    # deterministically ordered.
    preds3, scores3 = classify_predicates("nothing here", kb)
    assert len(preds3) == 3 and max(scores3) < 0.5
    preds3b, _ = classify_predicates("nothing here", kb)
    assert preds3 == preds3b


def _by_predicate(entries):
    """The dict KB of the direct classifier: {predicate: [(s, o)]}."""
    by_pred: dict[str, list[tuple[str, str]]] = {}
    for p, s, o in entries:
        by_pred.setdefault(p, []).append((s, o))
    return by_pred


def test_knowledgebase_parity_with_direct_classifier():
    entries = [
        ("主演", "端脑", "朱元冰"),
        ("主演", "端脑", "蒋依依"),
        ("作者", "碑", "维克多·谢阁兰"),
        ("改编自", "端脑", "端脑"),
        ("出版社", "碑", "上海人民出版社"),
    ]
    kbase = KnowledgeBase(entries)
    by_pred = _by_predicate(entries)
    texts = (DUANNAO_TEXT, BEI_TEXT, "no match at all", "")
    # Every threshold regime: below and inside the pseudo-scores'
    # range, the default, and at or above the fired score (only the
    # top-k fallback remains); the default top-k and a short one.
    for threshold in (-1.0, 0.0, 0.3, 0.5, 0.99, 1.0, 1.5):
        for fallback_k in (2, 10):
            preds, scores = kbase.classify_batch(
                texts, threshold=threshold, fallback_k=fallback_k
            )
            for i, text in enumerate(texts):
                expect = classify_predicates(
                    text, by_pred, threshold=threshold, fallback_k=fallback_k
                )
                assert (preds[i], scores[i]) == expect, (
                    threshold, fallback_k, i
                )


def test_reference_extract_end_to_end():
    entries = [
        ("主演", "端脑", "朱元冰"),
        ("主演", "端脑", "蒋依依"),
        ("改编自", "端脑", "端脑"),
        ("作者", "碑", "维克多·谢阁兰"),
    ]
    schema_types = {
        "主演": ("影视作品", "人物"),
        "改编自": ("影视作品", "作品"),
        "作者": ("图书作品", "人物"),
    }
    triples = reference_extract(
        DUANNAO_TEXT, _by_predicate(entries), schema_types
    )
    assert ("端脑", "主演", "朱元冰", "影视作品", "人物") in triples
    assert ("端脑", "主演", "蒋依依", "影视作品", "人物") in triples
    assert ("端脑", "改编自", "端脑", "影视作品", "作品") in triples
    # 碑 is a 1-char subject → its work unit yields no triples.
    assert not [t for t in triples if t[1] == "作者"]
    # The kernel's fused pipeline (cleaned units, then the cartesian
    # product) emits exactly the dict-KB oracle's triples.
    (units,) = KnowledgeBase(entries).extract_batch(
        [DUANNAO_TEXT], min_entity_len=2
    )
    assert sorted(
        (s, p, o, *schema_types[p])
        for p, subs, objs in units
        for s in subs
        for o in objs
    ) == triples


def test_classify_batch_parity_with_loop():
    """Vectorized Arrow-compute classification must equal the direct
    per-row classifier element-wise, including fallback rows, empty
    strings and a duplicate row."""
    entries = [
        ("主演", "端脑", "朱元冰"),
        ("主演", "端脑", "蒋依依"),
        ("作者", "碑", "维克多·谢阁兰"),
        ("改编自", "端脑", "端脑"),
        ("出版社", "碑", "上海人民出版社"),
        ("relx", "ab", "cd ef"),
    ]
    kbase = KnowledgeBase(entries)
    texts = [
        DUANNAO_TEXT,
        BEI_TEXT,
        "nothing matching here",
        "",
        "ab and cd ef together",
        "AB with CD EF uppercase",
        DUANNAO_TEXT,  # duplicate row
    ]
    by_pred = _by_predicate(entries)
    bp, bs = kbase.classify_batch(texts)
    for i, t in enumerate(texts):
        lp, ls = classify_predicates(t, by_pred)
        assert bp[i] == lp, f"row {i}"
        assert bs[i] == ls, f"row {i}"
