"""Spark stages running the numpy BiLSTM (kernels/nn.py) behind the
stage-by-stage seam of operators/extract: ``nn_classify_stage`` has
``classify_stage``'s output schema and ``nn_tag_stage`` emits BIESO
tags per (turn, predicate) unit (``_TAGGED_FIELDS``) for the stock
``decode_stage``. Weights ship once per executor as a Spark broadcast;
inputs are built by the P8-P11 tokenizer operators (char index + pad,
CLS/SEP framing + masks, predicate-conditioned segments).

This is the "a fine-tuned model drops in behind the same mapInPandas
signature" claim made concrete (VERDICT r01 #3): ``nn_extract_triples``
composes ordered → nn-classify → ``fanout_predicates`` → nn-tag →
``decode_stage`` → ``assemble_triples`` — narrow Arrow-batched maps, no
shuffle, downstream operators untouched (tests/test_nn_kernel.py runs
exactly that composition end-to-end).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from information_extraction_spark.kernels import nn
from information_extraction_spark.kernels.tokenizer import (
    frame_with_special_tokens,
    index_tokens,
    predicate_conditioned_frame,
)
from information_extraction_spark.operators.extract import (
    _CLASSIFIED_FIELDS,
    _TAGGED_FIELDS,
    FALLBACK_K,
    THRESHOLD,
)

MAX_SEQ = 64  # char positions per turn fed to the model


def _frame_batch(
    texts: "pd.Series", vocab: dict[str, int], max_seq: int
) -> tuple[np.ndarray, np.ndarray]:
    """P10: [CLS] + chars + [SEP] right-padded, as (B, T) id and mask
    matrices — the dense padded tensors the reference's DataLoader
    collate built (labeling/dataset.py:117-129)."""
    ids = np.zeros((len(texts), max_seq), dtype=np.int64)
    mask = np.zeros((len(texts), max_seq), dtype=np.int64)
    for r, text in enumerate(texts):
        toks, _seg, m = frame_with_special_tokens(list(text or ""), max_seq)
        ids[r] = index_tokens(toks, vocab, unk_id=nn.UNK_ID)
        mask[r] = m
    return ids, mask


def nn_classify_stage(
    df: DataFrame,
    weights_bc,
    vocab_bc,
    predicates: list[str],
    threshold: float = THRESHOLD,
    fallback_k: int = FALLBACK_K,
    dedup: bool = True,
) -> DataFrame:
    """Stage-1 multi-label classification via the broadcast BiLSTM.
    Output schema identical to extract.classify_stage.

    ``dedup`` (default on) runs the BiLSTM forward once per DISTINCT
    text within a partition — the KB fused kernel's per-text memo
    applied to the expensive tensor path, where it matters most.
    Transcript corpora repeat turns heavily (greetings, tool
    boilerplate), and the model is a pure function of the text, so
    duplicate rows reuse the memoized scores. The memo lives for one
    partition's task (a plain dict carried across Arrow batches), so
    its footprint is bounded by the partition's distinct texts — no
    shuffle, no global state."""
    pred_names = list(predicates)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = weights_bc.value
        vocab = vocab_bc.value
        memo: dict[str, tuple[list, list]] = {}

        def score_texts(texts: list[str]) -> None:
            ids, mask = _frame_batch(pd.Series(texts), vocab, MAX_SEQ)
            probs = nn.classify_logits(weights, ids, mask)
            for text, row in zip(texts, probs):
                scored = sorted(
                    zip(pred_names, row.astype(float)),
                    key=lambda kv: (-kv[1], kv[0]),
                )
                above = [(p, s) for p, s in scored if s > threshold]
                if not above:
                    above = scored[:fallback_k]
                memo[text] = (
                    [p for p, _ in above],
                    [s for _, s in above],
                )

        for pdf in batches:
            if dedup:
                todo = [
                    t
                    for t in dict.fromkeys(pdf["text"])
                    if t not in memo
                ]
            else:
                memo.clear()
                todo = list(pdf["text"])
            if todo:
                score_texts(todo)
            preds_col = [memo[t][0] for t in pdf["text"]]
            scores_col = [memo[t][1] for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "text": pdf["text"],
                    "predicates": preds_col,
                    "scores": scores_col,
                }
            )

    pruned = df.select("conv_id", "turn_idx", "text").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    return pruned.mapInPandas(run, schema=_CLASSIFIED_FIELDS)


def nn_tag_stage(
    fanned: DataFrame,
    weights_bc,
    vocab_bc,
    predicates: list[str],
    dedup: bool = True,
) -> DataFrame:
    """Stage-2 BIESO tagging via the broadcast BiLSTM over
    predicate-conditioned frames (P11). Output schema
    extract._TAGGED_FIELDS; tags align 1:1 with text chars so the
    stock decode_stage consumes them unchanged.

    ``dedup`` memoizes per distinct (text, predicate) unit within the
    partition — after the classify fan-out, duplicate turns produce
    identical work units, and stage 2 is where the model FLOPs
    concentrate (one forward per fired predicate)."""
    pred_index = {p: i for i, p in enumerate(predicates)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = weights_bc.value
        vocab = vocab_bc.value
        half = (MAX_SEQ - 3) // 2
        memo: dict[tuple[str, str], list[str]] = {}

        def tag_units(units: list[tuple[str, str]]) -> None:
            n = len(units)
            ids = np.zeros((n, MAX_SEQ), dtype=np.int64)
            segs = np.zeros((n, MAX_SEQ), dtype=np.int64)
            lengths = np.zeros(n, dtype=np.int64)
            for r, (text, pred) in enumerate(units):
                toks, seg, m = predicate_conditioned_frame(
                    list(text or ""),
                    pred,
                    pred_index.get(pred, 0) % (nn.MAX_SEG - 1),
                    MAX_SEQ,
                )
                ids[r] = index_tokens(toks, vocab, unk_id=nn.UNK_ID)
                segs[r] = seg
                lengths[r] = sum(m)  # real (non-PAD) frame length
            # CRF (mask-aware Viterbi over learned transitions, the
            # reference's BiLSTM-CRF decode) when the checkpoint
            # carries one; per-position argmax otherwise.
            if "crf" in weights:
                tag_mat = nn.tag_ids_crf(weights, ids, segs, lengths)
            else:
                tag_mat = nn.tag_ids(weights, ids, segs, lengths)
            for r, (text, pred) in enumerate(units):
                text = text or ""
                h = min(len(text), half)
                # model positions 1..h are the text chars (0 is CLS);
                # chars beyond the frame default to 'O' (untagged).
                tags = [nn.TAGS[t] for t in tag_mat[r, 1 : h + 1]]
                tags += ["O"] * (len(text) - h)
                memo[(text, pred)] = tags

        for pdf in batches:
            # Normalize None text at KEY-BUILD time: tag_units stores
            # under (text or '', pred), so an unnormalized membership
            # probe on (None, pred) would miss the memo every batch
            # and re-run the forward for exactly the duplicate work
            # the memo exists to skip.
            units = [
                (t or "", p)
                for t, p in zip(pdf["text"], pdf["predicate"])
            ]
            if dedup:
                todo = [u for u in dict.fromkeys(units) if u not in memo]
            else:
                memo.clear()
                todo = units
            if todo:
                tag_units(todo)
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "text": pdf["text"],
                    "predicate": pdf["predicate"],
                    "tags": [memo[u] for u in units],
                }
            )

    return fanned.select(
        "conv_id", "turn_idx", "text", "predicate"
    ).mapInPandas(run, schema=_TAGGED_FIELDS)


def nn_extract_triples(
    spark,
    transcripts: DataFrame,
    schemas: DataFrame,
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
    threshold: float = THRESHOLD,
    fallback_k: int = FALLBACK_K,
    dedup: bool = True,
) -> DataFrame:
    """The full extraction DAG with the tensor kernels swapped in:
    ordered → nn-classify → fan out → nn-tag → decode → assemble.
    Everything after the two model stages is the stock pipeline."""
    from information_extraction_spark.operators.extract import (
        assemble_triples,
        decode_stage,
        fanout_predicates,
        ordered_transcripts,
    )

    weights_bc = spark.sparkContext.broadcast(weights)
    vocab_bc = spark.sparkContext.broadcast(vocab)
    predicates = sorted(
        r["predicate"]
        for r in schemas.select("predicate").distinct().collect()
    )
    ordered = ordered_transcripts(transcripts)
    classified = nn_classify_stage(
        ordered,
        weights_bc,
        vocab_bc,
        predicates,
        threshold=threshold,
        fallback_k=fallback_k,
        dedup=dedup,
    )
    fanned = fanout_predicates(classified)
    tagged = nn_tag_stage(
        fanned, weights_bc, vocab_bc, predicates, dedup=dedup
    )
    return assemble_triples(decode_stage(tagged), schemas)


def nn_extract_triples_from_checkpoint(
    spark,
    transcripts: DataFrame,
    schemas: DataFrame,
    checkpoint_path: str,
    threshold: float = THRESHOLD,
    fallback_k: int = FALLBACK_K,
    dedup: bool = True,
) -> DataFrame:
    """The complete fine-tuned-model story: load a saved npz
    checkpoint (weights + vocab, kernels/nn.save_checkpoint — the
    analog of the reference's convert_tf_checkpoint_to_pytorch.py
    artifact seam), broadcast it, and run the tensor DAG."""
    weights, vocab = nn.load_checkpoint(checkpoint_path)
    if vocab is None:
        raise ValueError(
            f"checkpoint {checkpoint_path} carries no vocab — "
            "inference needs the vocab the model was trained with"
        )
    return nn_extract_triples(
        spark,
        transcripts,
        schemas,
        weights,
        vocab,
        threshold=threshold,
        fallback_k=fallback_k,
        dedup=dedup,
    )
