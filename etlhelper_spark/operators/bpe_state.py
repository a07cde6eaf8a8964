"""Persisted BPE tokenizer state — merges train ONCE, encode forever.

The deployment contract of every real tokenizer: merge rules are
frozen at training time and every later batch must encode IDENTICALLY,
or token counts/budgets/shards stop being comparable across vintages.
This is q180's frozen-pivot / q198's frozen-codebook contract applied
to text — the state here is the ordered merge table itself (a handful
of rows), so "apply" never retrains and never reads the training
corpus again.

- ``build_bpe_state``: train up to *rounds* merges (functions/
  text.py::bpe_merges — one combinable pair-count aggregate, a
  one-row driver collect of the winner, and a literal codegen array
  fuse per checkpointed round) and persist the ordered
  (step, left, right, cnt) table.
- ``apply_bpe_state``: encode a NEW batch's distinct-word table under
  the frozen rules: the merge table is bounded by *rounds* (a
  constant), so collecting it to the driver is the bounded-driver
  contract; each rule replays as the same literal fuse used in
  training, the chain cut every 8 rules. Corpus scale enters only
  through the caller's word-level join — the iteration runs over
  |batch vocabulary| rows.

Reference parity note: the reference (a DB-API cursor wrapper,
/root/reference/etlhelper/etl.py) has no tokenizer machinery; this
extends the suite's persisted-state family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import read_parquet_state
from ..state.store import exists

__all__ = [
    "build_bpe_state",
    "apply_bpe_state",
    "read_bpe_merges",
    "read_bpe_vocab",
]

_MERGES = "merges"
_VOCAB = "vocab"


def build_bpe_state(
    df: DataFrame,
    state_dir: str,
    text_col: str = "text",
    rounds: int = 2,
    with_vocab: bool = False,
) -> int:
    """Train *rounds* BPE merges on *df* and persist them (ordered,
    one row per rule) under ``<state_dir>/merges``. Overwrite-writes:
    a replayed build reproduces the identical deterministic table, so
    the operation is idempotent. Returns the number of rules
    persisted.

    *with_vocab=True* ALSO freezes the token-id table: the distinct
    subwords of the trained word table, ranked in sorted order, land
    under ``<state_dir>/vocab`` as (sym, tok_id) — the other half of
    a real tokenizer's deployment contract. Merges alone freeze token
    BOUNDARIES across vintages; ids derived from each batch's own
    subword set silently renumber when a new batch adds or loses a
    subword, so every persisted tensor from a different vintage stops
    being comparable. With the frozen vocab,
    functions/text.py::bpe_doc_token_ids encodes ANY later batch
    under vintage-stable ids (unseen subwords map to the caller's
    unk id, loudly by default — the q285 contract)."""
    from ..functions.text import _bpe_train_loop, _bpe_word_table
    from ..functions.util import literal_frame

    w = _bpe_word_table(df, text_col)
    rules, wf = _bpe_train_loop(w, rounds, ["w", "freq"])
    merges = literal_frame(
        df.sparkSession,
        rules,
        "step int, left string, right string, cnt long",
    )
    path = os.path.join(state_dir, _MERGES)
    merges.coalesce(1).write.mode("overwrite").parquet(path)
    if with_vocab:
        from pyspark.sql.window import Window

        vocab = (
            wf.select(F.explode("s").alias("sym"))
            .distinct()
            .select(
                "sym",
                (F.row_number().over(Window.orderBy("sym")) - 1)
                .cast("long")
                .alias("tok_id"),
            )
        )
        vocab.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(state_dir, _VOCAB)
        )
    # training stops early when the vocabulary is fully fused, so the
    # persisted count can be smaller than the requested budget
    return len(rules)


def read_bpe_vocab(spark, state_dir: str) -> DataFrame:
    """The frozen (sym, tok_id) table. Raises when the state was
    built without ``with_vocab=True``."""
    path = os.path.join(state_dir, _VOCAB)
    if not exists(path):
        raise ValueError(
            f"read_bpe_vocab: no persisted vocab under {state_dir} "
            "— build_bpe_state(with_vocab=True) first"
        )
    return read_parquet_state(spark, path)


def read_bpe_merges(spark, state_dir: str) -> DataFrame:
    """The persisted rule table (step, left, right, cnt), in merge
    order. Raises a clear error when no state was ever built."""
    path = os.path.join(state_dir, _MERGES)
    if not exists(path):
        raise ValueError(
            f"read_bpe_merges: no persisted merges under {state_dir} "
            "— run build_bpe_state first"
        )
    return read_parquet_state(spark, path).orderBy("step")


def apply_bpe_state(
    df: DataFrame,
    state_dir: str,
    text_col: str = "text",
) -> DataFrame:
    """Encode *df*'s distinct words under the FROZEN persisted merges
    and return (w, n_sub): each distinct word of the new batch with
    its subword-token count. Never retrains: encoding a batch with
    rules trained on an earlier vintage is content-identical to
    applying those same rules by hand — the property the q218 oracle
    restates from scratch.

    The frozen rules are driver-side strings, so each replays as a
    pure LITERAL fuse — no joins, no broadcast. At realistic merge
    counts (10^2-10^4 rules) the chain is cut by a localCheckpoint
    every 8 fuses: each fuse nests three lambda passes, so an uncut
    64-rule chain is a ~200-level expression tree that blows analysis
    time and the codegen method-size budget; the cut bounds every
    compiled projection at 8 rules over |batch vocabulary|
    materialized rows (the training loop's own per-round discipline,
    amortized 8x because apply needs no per-rule aggregation)."""
    from ..functions.text import _bpe_fuse_literal, _bpe_word_table

    spark = df.sparkSession
    rules = read_bpe_merges(spark, state_dir).select(
        "step", "left", "right"
    ).collect()  # bounded by `rounds` — a constant, not data-sized
    w = _bpe_word_table(df, text_col)
    for i, r in enumerate(rules):
        w = _bpe_fuse_literal(w, r["left"], r["right"], ["w", "freq"])
        if (i + 1) % 8 == 0 and (i + 1) < len(rules):
            # lazy: the next cut (or the final consumer) forces it —
            # no standalone job per 8-rule segment
            w = w.localCheckpoint(eager=False)
    return w.select("w", F.size("s").alias("n_sub"))
