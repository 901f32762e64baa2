"""Deterministic extraction kernels reproducing the reference's
pre/post-processing semantics.

Each function documents the reference behavior it reproduces with a
file:line citation into /root/reference. The implementations are
written fresh against those semantics (this module is the contract the
pytest goldens in tests/test_kernels.py pin down, including the two
worked examples embedded in the reference at labeling/tagging.py:65-85).

The "model" is a knowledge base of (subject, predicate, object)
entries: stage 1 predicts a predicate for a sentence iff some KB entry
for that predicate has both its subject and object occurring in the
sentence; stage 2 tags the spans of exactly those entries. A real
fine-tuned model can be swapped in behind the same batch signatures.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterable, Mapping

# ---------------------------------------------------------------------------
# Substring search
# ---------------------------------------------------------------------------


from functools import lru_cache


@lru_cache(maxsize=65536)
def _entity_pattern(needle: str) -> re.Pattern:
    # The stdlib re module's internal cache holds only 512 patterns;
    # a KB has thousands of entities, so cache compiled patterns here
    # (once per Python worker).
    return re.compile(re.escape(needle), re.IGNORECASE)


def find_occurrences(needle: str, haystack: str) -> list[int]:
    """All non-overlapping, case-insensitive match offsets of ``needle``
    in ``haystack``.

    Semantics of reference labeling/tagging.py:4-6 (``re.finditer`` over
    ``re.escape(sub)`` with ``re.I``): matches never overlap and the
    needle is treated literally.
    """
    if not needle:
        return []
    return [m.start() for m in _entity_pattern(needle).finditer(haystack)]


# ---------------------------------------------------------------------------
# Stage 1 — predicate classification (deterministic kernel)
# ---------------------------------------------------------------------------


def _pseudo_score(text: str, predicate: str) -> float:
    """Deterministic pseudo-probability in (0, 0.5) for non-matching
    predicates, used only to rank the top-k fallback (reference takes
    the 10 highest sigmoid scores when nothing clears the threshold,
    prepare_data_for_labeling_infer.py:23-33). Derived from a stable
    digest so results are partition-order independent.
    """
    h = hashlib.md5(f"{text}\x00{predicate}".encode()).digest()
    return (int.from_bytes(h[:4], "big") / 2**32) * 0.5


def classify_predicates(
    text: str,
    kb_by_predicate: Mapping[str, list[tuple[str, str]]],
    threshold: float = 0.5,
    fallback_k: int = 10,
) -> tuple[list[str], list[float]]:
    """Predict which relations a sentence expresses.

    A predicate scores 1.0 when at least one KB (subject, object) pair
    for it occurs in the sentence (both sides, case-insensitive),
    else a deterministic pseudo-score < 0.5. Predicted set = scores
    above ``threshold`` (reference sigmoid threshold 0.5,
    run_predicate_classification.py:796-798); when empty, fall back to
    the ``fallback_k`` highest-scoring relations
    (prepare_data_for_labeling_infer.py:23-33,66-69).

    Returns (predicates, scores) sorted by (-score, predicate) so the
    output is deterministic under any partitioning.
    """
    scored: list[tuple[str, float]] = []
    for predicate, pairs in kb_by_predicate.items():
        hit = any(
            find_occurrences(s, text) and find_occurrences(o, text)
            for s, o in pairs
        )
        score = 1.0 if hit else _pseudo_score(text, predicate)
        scored.append((predicate, score))
    scored.sort(key=lambda kv: (-kv[1], kv[0]))
    above = [(p, s) for p, s in scored if s > threshold]
    if not above:
        above = scored[:fallback_k]
    return [p for p, _ in above], [s for _, s in above]


# ---------------------------------------------------------------------------
# Stage 2 — BIESO span tagging
# ---------------------------------------------------------------------------


# Interned tag constants: (B, I, E, S) per kind — _mark_span runs
# hundreds of thousands of times per batch; f-string construction per
# write was ~10% of kernel time.
_KIND_TAGS = {
    "SUB": ("B-SUB", "I-SUB", "E-SUB", "S-SUB"),
    "OBJ": ("B-OBJ", "I-OBJ", "E-OBJ", "S-OBJ"),
}


def _mark_span(tags: list[str], start: int, length: int, kind: str) -> None:
    """Write one BIESO span of ``kind`` ('SUB'/'OBJ') into ``tags``.

    Length-1 entities get 'S-', length-2 'B-'+'E-', longer
    'B-' + 'I-'*k + 'E-' (reference labeling/tagging.py:28-49).
    """
    b, i_, e, s = _KIND_TAGS[kind]
    if length == 1:
        tags[start] = s
        return
    tags[start] = b
    end = start + length - 1
    tags[end] = e
    for i in range(start + 1, end):
        tags[i] = i_


def bieso_tags(text: str, pairs: Iterable[tuple[str, str]]) -> list[str]:
    """Per-character BIESO subject/object tags for a (sentence,
    predicate) work unit.

    Reproduces reference labeling/tagging.py:9-51:

    * every case-insensitive occurrence of each subject/object is
      tagged (all offsets from :func:`find_occurrences`),
    * when subject == object, the object takes the odd-indexed
      occurrences of the shared string while the subject still tags
      every occurrence first (tagging.py:25-26) — objects then
      overwrite the odd ones because the object loop runs second,
    * pairs are applied in order; later writes overwrite earlier tags.

    ``pairs`` is the KB (subject, object) list for this predicate —
    the analog of the reference's spo_list filtered to one spo_concat
    key (tagging.py:18-19).
    """
    tags = ["O"] * len(text)
    for subject, obj in pairs:
        s_offsets = find_occurrences(subject, text)
        o_offsets = find_occurrences(obj, text)
        if subject == obj:
            o_offsets = [off for i, off in enumerate(s_offsets) if i % 2 == 1]
        for off in s_offsets:
            _mark_span(tags, off, len(subject), "SUB")
        for off in o_offsets:
            _mark_span(tags, off, len(obj), "OBJ")
    return tags


# ---------------------------------------------------------------------------
# Span decoding
# ---------------------------------------------------------------------------


def decode_bieso(tags: list[str], text: str) -> tuple[list[str], list[str]]:
    """Decode a BIESO tag sequence back into subject/object strings.

    Reproduces reference labeling/predict.py:50-71: 'S-*' emits the
    single character; 'B-*' records a start; 'E-*' emits
    text[start:end+1]. A stray 'E-*' with no live start is skipped
    (the reference would reuse a stale index; our tagger never
    produces that shape, and skipping keeps the kernel total).
    """
    subjects: list[str] = []
    objects: list[str] = []
    start: int | None = None
    for i, tag in enumerate(tags):
        if tag == "O":
            continue
        head = tag[0]
        if head == "S":
            (subjects if tag.endswith("SUB") else objects).append(text[i])
        elif head == "B":
            start = i
        elif head == "E":
            if start is None:
                continue
            span = text[start : i + 1]
            (subjects if tag.endswith("SUB") else objects).append(span)
            start = None
    return subjects, objects


def decode_bio_tokens(
    tokens: list[str], labels: list[str]
) -> list[tuple[str, str]]:
    """Decode BIO labels over (WordPiece) tokens into
    (kind, entity) tuples, merging '##' continuation pieces.

    Reproduces the legacy path produce_submit_json_file.py:185-234 +
    the WordPiece merge at :153-171: a leading '[CLS]' label is
    dropped, labels are truncated to the token count, 'O' flushes the
    open entity, 'B-*' flushes then opens, 'I-*'/'[##WordPiece]'
    extends an open entity, '[SEP]' stops decoding, and the last open
    entity is flushed at end of sequence.
    """
    if labels and labels[0] == "[CLS]":
        labels = labels[1:]
    labels = labels[: len(tokens)]
    entities: list[tuple[str, str]] = []
    kind: str | None = None
    parts: list[str] = []

    def flush() -> None:
        nonlocal kind, parts
        if kind is not None and parts:
            merged = "".join(
                p[2:] if p.startswith("##") else p for p in parts
            )
            if merged:
                entities.append((kind, merged))
        kind, parts = None, []

    for token, label in zip(tokens, labels):
        if label == "[SEP]":
            break
        if label == "O":
            flush()
        elif label.startswith("B-"):
            flush()
            kind = label[2:]
            parts = [token]
        elif (label.startswith("I-") or label == "[##WordPiece]") and kind is not None:
            parts.append(token)
    flush()
    return entities


# ---------------------------------------------------------------------------
# Indexed knowledge base (fast path for the batch kernels)
# ---------------------------------------------------------------------------

# Bump whenever KnowledgeBase.extract_batch can return different units
# for the same inputs: it is part of a checkpointed run's identity, so
# units staged by an older kernel are not resumed.
KERNEL_VERSION = 1


class KnowledgeBase:
    """Entity-prefiltered view of the (predicate, subject, object) KB.

    Semantically identical to :func:`classify_predicates` over the same
    entries, but O(|entities|) per sentence instead of O(|KB|): one
    lowercase-substring pass finds which entities occur, then pair
    membership is a set lookup. This is what the Arrow-batched Spark
    kernels use; tests assert parity with the direct implementation,
    which the golden generator and :func:`reference_extract` run.
    """

    def __init__(self, entries: Iterable[tuple[str, str, str]]):
        """``entries`` are (predicate, subject, object) rows."""
        self.by_predicate: dict[str, list[tuple[str, str]]] = {}
        seen: set[tuple[str, str, str]] = set()
        for predicate, subject, obj in entries:
            key = (predicate, subject, obj)
            if key in seen:
                continue
            seen.add(key)
            self.by_predicate.setdefault(predicate, []).append((subject, obj))
        self.predicates = sorted(self.by_predicate)
        entity_set = {
            e for pairs in self.by_predicate.values() for p in pairs for e in p
        }
        # Longest-first so prefilter cost is stable; lowercase once.
        self.entities = sorted(entity_set)
        self._entities_lower = [(e, e.lower()) for e in self.entities]
        self._pair_keys: dict[str, list[tuple[str, str]]] = {
            pred: [(s.lower(), o.lower()) for s, o in pairs]
            for pred, pairs in self.by_predicate.items()
        }
        # Fallback top-k is a pure function of (text, k); corpora are
        # duplicate-heavy (and the bench replicates its corpus), so
        # memoize per KB instance. Bounded: cleared when oversized.
        self._fallback_cache: dict[tuple[str, int], tuple[list, list]] = {}
        # Same for the fused extract units (see extract_batch).
        self._extract_cache: dict[tuple, list] = {}

    def _fallback(
        self, text: str, fallback_k: int
    ) -> tuple[list[str], list[float]]:
        """Top-``fallback_k`` pseudo-scored predicates for a text where
        nothing fired (prepare_data_for_labeling_infer.py:23-33)."""
        key = (text, fallback_k)
        hit = self._fallback_cache.get(key)
        if hit is None:
            scored = sorted(
                ((p, _pseudo_score(text, p)) for p in self.predicates),
                key=lambda kv: (-kv[1], kv[0]),
            )[:fallback_k]
            hit = ([p for p, _ in scored], [s for _, s in scored])
            if len(self._fallback_cache) > 100_000:
                self._fallback_cache.clear()
            self._fallback_cache[key] = hit
        return hit

    def _select(
        self, text: str, fired: list[str], threshold: float, fallback_k: int
    ) -> tuple[list[str], list[float]]:
        """The (predicates, scores) :func:`classify_predicates` predicts
        for ``text`` whose ``fired`` predicates (sorted) have a KB pair
        present: fired predicates score 1.0, the others their
        pseudo-score; keep scores above ``threshold``, else the top
        ``fallback_k``. For 0.5 <= threshold < 1.0 every fired score
        passes and no pseudo-score (< 0.5) does, so the choice is the
        fired list or the memoized pseudo-score top-k."""
        if 0.5 <= threshold < 1.0:
            if fired:
                return fired, [1.0] * len(fired)
            return self._fallback(text, fallback_k)
        hit = set(fired)
        scored = sorted(
            (
                (p, 1.0 if p in hit else _pseudo_score(text, p))
                for p in self.predicates
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )
        kept = [kv for kv in scored if kv[1] > threshold]
        kept = kept or scored[:fallback_k]
        return [p for p, _ in kept], [s for _, s in kept]

    def _presence_and_fired(self, texts):
        """Batch entity-presence matrix (Arrow's C++ substring kernel
        over the lowered batch) and per-row fired predicates (those
        with some pair fully present). Shared by :meth:`classify_batch`
        and :meth:`extract_batch` so the two cannot drift. Returns
        (texts_list, present, fired)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pa.array(list(texts), type=pa.string())
        low = pc.utf8_lower(arr)
        n = len(arr)
        present: dict[str, "np.ndarray"] = {}
        for _, el in self._entities_lower:
            mask = pc.match_substring(low, el).to_numpy(zero_copy_only=False)
            present[el] = np.nan_to_num(mask).astype(bool)
        fired: list[list[str]] = [[] for _ in range(n)]
        for predicate in self.predicates:
            acc = None
            for s, o in self._pair_keys[predicate]:
                m = present[s] & present[o]
                acc = m if acc is None else acc | m
            if acc is None:
                continue
            for i in np.flatnonzero(acc):
                fired[i].append(predicate)
        return arr.to_pylist(), present, fired

    def extract_batch(
        self,
        texts,
        threshold: float = 0.5,
        fallback_k: int = 10,
        min_entity_len: int | None = None,
    ) -> list[list[tuple[str, list[str], list[str]]]]:
        """Fused classify → tag → decode over a batch of texts.

        Returns, per input text, the list of (predicate, subjects,
        objects) work units whose decoded spans are non-empty on BOTH
        sides — the only units that can produce triples
        (produce_submit_json_file.py:284-288 needs one subject and one
        object). With ``min_entity_len`` set, each unit is additionally
        CLEANED at memo time (:func:`assemble_entities`: set-dedup,
        drop entities shorter than ``min_entity_len``, sorted) and
        units left empty on either side are dropped — the downstream
        plan can then skip re-evaluating the equivalent
        array_distinct/filter/array_sort lambdas per unit row. The
        clean runs once per DISTINCT text (inside the memo), not once
        per row. Element-wise parity with
        ``decode_bieso(bieso_tags(text, pairs))`` for every predicate
        :func:`classify_predicates` would emit at ``threshold``,
        including non-fired ones: a non-fired predicate can still yield
        triples when one pair matches only its subject and another pair
        only its object (cross-pair mixing in the shared tag array), so
        fallback units are tagged too, not skipped.

        The batch presence matrix is reused for pair prefiltering
        instead of per-row substring scans, and entity match offsets
        are memoized per text across all its predicates (KB entities
        recur across pairs).

        Duplicate texts are deduped BEFORE the presence pass and their
        units served from a bounded per-KB memo (same rationale as the
        fallback memo: web corpora are duplicate-heavy — that is why
        the engine ships five dedup operators — and the kernel output
        is a pure function of (text, threshold, fallback_k)). On an
        all-unique batch the cost is one dict probe per row; on a
        corpus with duplication factor d the presence matrix and span
        work shrink by ~d. Results are shared references; callers must not mutate.
        """
        texts_list = [t if isinstance(t, str) else (t or "") for t in texts]
        cache = self._extract_cache
        # Capture this batch's hits into a local map FIRST: the bounded
        # clear below must never evict an entry this batch already
        # relies on (clearing after dedup and reading back from the
        # shared cache would KeyError exactly when the memo fills up).
        results: dict[str, list] = {}
        todo: list[str] = []
        todo_seen: set[str] = set()
        for t in texts_list:
            if t in results or t in todo_seen:
                continue
            hit = cache.get((t, threshold, fallback_k, min_entity_len))
            if hit is not None:
                results[t] = hit
            else:
                todo_seen.add(t)
                todo.append(t)
        if todo:
            computed = list(
                zip(
                    todo,
                    self._extract_unique(
                        todo, threshold, fallback_k, min_entity_len
                    ),
                )
            )
            if len(cache) > 50_000:
                cache.clear()
            for t, units in computed:
                cache[(t, threshold, fallback_k, min_entity_len)] = units
                results[t] = units
        return [results[t] for t in texts_list]

    def _extract_unique(
        self,
        texts_list: list[str],
        threshold: float,
        fallback_k: int,
        min_entity_len: int | None = None,
    ) -> list[list[tuple[str, list[str], list[str]]]]:
        """extract_batch body over known-unique texts (no memo)."""
        _, present, fired = self._presence_and_fired(texts_list)
        n = len(texts_list)
        out: list[list[tuple[str, list[str], list[str]]]] = []
        for i in range(n):
            text = texts_list[i] or ""
            preds = self._select(text, fired[i], threshold, fallback_k)[0]
            offs: dict[str, list[int]] = {}
            per_text: list[tuple[str, list[str], list[str]]] = []
            for predicate in preds:
                pairs = self.by_predicate.get(predicate, [])
                keys = self._pair_keys[predicate]
                # Span writes in pair order (the overwrite order of the
                # shared tag array).
                writes: list[tuple[int, int, str]] = []
                for (subject, obj), (sl, ol) in zip(pairs, keys):
                    s_in = present[sl][i]
                    o_in = present[ol][i]
                    if not s_in and not o_in:
                        continue
                    if s_in:
                        s_offsets = offs.get(subject)
                        if s_offsets is None:
                            s_offsets = offs[subject] = find_occurrences(
                                subject, text
                            )
                    else:
                        s_offsets = []
                    if subject == obj:
                        o_offsets = [
                            off
                            for k, off in enumerate(s_offsets)
                            if k % 2 == 1
                        ]
                    elif o_in:
                        o_offsets = offs.get(obj)
                        if o_offsets is None:
                            o_offsets = offs[obj] = find_occurrences(
                                obj, text
                            )
                    else:
                        o_offsets = []
                    s_len, o_len = len(subject), len(obj)
                    for off in s_offsets:
                        writes.append((off, s_len, "SUB"))
                    for off in o_offsets:
                        writes.append((off, o_len, "OBJ"))
                if not writes:
                    continue
                # Fast path: when the DISTINCT spans are pairwise
                # disjoint, later writes never overwrite earlier tags,
                # so the decoded output is exactly the spans in start
                # order (decode_bieso emits in position order; 'S-' for
                # len 1 and 'B..E' for longer both decode to the
                # slice). Any overlap — including the sub==obj odd-
                # occurrence overwrite — falls back to the exact
                # tag-array + decode path.
                uniq = sorted(set(writes))
                disjoint = all(
                    uniq[k][0] + uniq[k][1] <= uniq[k + 1][0]
                    for k in range(len(uniq) - 1)
                )
                if disjoint:
                    subjects, objects = [], []
                    for start, length, kind in uniq:
                        (subjects if kind == "SUB" else objects).append(
                            text[start : start + length]
                        )
                else:
                    tags = ["O"] * len(text)
                    for start, length, kind in writes:
                        _mark_span(tags, start, length, kind)
                    subjects, objects = decode_bieso(tags, text)
                if min_entity_len is not None:
                    subjects, objects = assemble_entities(
                        subjects, objects, min_len=min_entity_len
                    )
                if subjects and objects:
                    per_text.append((predicate, subjects, objects))
            out.append(per_text)
        return out

    def classify_batch(
        self,
        texts,
        threshold: float = 0.5,
        fallback_k: int = 10,
    ) -> tuple[list[list[str]], list[list[float]]]:
        """Vectorized :meth:`classify` over a batch of texts.

        Entity presence is computed with Arrow's C++ substring kernel
        over the whole lowered batch (one pass per entity instead of a
        Python loop per row), predicate firing is boolean algebra over
        the presence matrix, and the per-row pseudo-scores run only
        where :meth:`_select` needs them. Output is element-wise
        identical to :meth:`classify` (parity-tested).

        Duplicate texts are collapsed before the presence pass (same
        rationale as :meth:`extract_batch`'s memo: the result is a
        pure function of the text, and web corpora are
        duplicate-heavy) — the matrix and firing algebra run over
        DISTINCT texts only. Returned lists are shared references for
        duplicate rows; callers must not mutate.
        """
        texts_list = [t if isinstance(t, str) else (t or "") for t in texts]
        uniq = list(dict.fromkeys(texts_list))
        _, _, fired = self._presence_and_fired(uniq)
        per_text = {
            t: self._select(t, f, threshold, fallback_k)
            for t, f in zip(uniq, fired)
        }
        preds_out = [per_text[t][0] for t in texts_list]
        scores_out = [per_text[t][1] for t in texts_list]
        return preds_out, scores_out


# ---------------------------------------------------------------------------
# Pure-Python end-to-end reference extractor (parity oracle)
# ---------------------------------------------------------------------------


def assemble_entities(
    subjects: list[str], objects: list[str], min_len: int = 2
) -> tuple[list[str], list[str]]:
    """Dedup + length-filter decoded entities.

    Reference produce_submit_json_file.py:276-281: subjects/objects are
    set-deduped and entities shorter than 2 characters are dropped.
    Returned sorted for deterministic output (the reference's set()
    order is interpreter-dependent; triples are a set anyway).
    """
    subs = sorted({s for s in subjects if len(s) >= min_len})
    objs = sorted({o for o in objects if len(o) >= min_len})
    return subs, objs


def reference_extract(
    text: str,
    kb_by_predicate: Mapping[str, list[tuple[str, str]]],
    schema_types: Mapping[str, tuple[str, str]],
    threshold: float = 0.5,
    fallback_k: int = 10,
) -> list[tuple[str, str, str, str, str]]:
    """Full single-sentence pipeline: classify → fan out → tag →
    decode → dedup/filter → cartesian SUB×OBJ → attach types.

    This is the driver for golden-fixture generation and the parity
    oracle the Spark pipeline must match exactly. The cartesian product
    per (sentence, predicate) and first-listed (subject_type,
    object_type) follow produce_submit_json_file.py:275,284-288.

    Returns sorted (subject, predicate, object, subject_type,
    object_type) tuples, set-deduped.
    """
    predicates, _ = classify_predicates(
        text, kb_by_predicate, threshold=threshold, fallback_k=fallback_k
    )
    triples: set[tuple[str, str, str, str, str]] = set()
    for predicate in predicates:
        tags = bieso_tags(text, kb_by_predicate.get(predicate, []))
        subjects, objects = decode_bieso(tags, text)
        subjects, objects = assemble_entities(subjects, objects)
        if not subjects or not objects:
            continue
        subject_type, object_type = schema_types.get(predicate, ("", ""))
        for s in subjects:
            for o in objects:
                triples.add((s, predicate, o, subject_type, object_type))
    return sorted(triples)
