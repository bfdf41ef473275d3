"""Pure-Python oracles of the BPE operators in
``operators/selection.py``: the greedy and batched trainers and the
encoder, each applying merges in the same order as its Spark twin."""

from __future__ import annotations

from nqs_console_flink_window_spark.operators.selection import _pick_nonconflicting


def bpe_train_reference(word_freqs: dict[str, int], n_merges: int = 8) -> list[tuple[str, str, int]]:
    """Pure-Python reference BPE trainer (same tiebreak) for the parity
    test."""
    vocab = {tuple(w): f for w, f in word_freqs.items() if len(w) >= 2}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b, cnt))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def bpe_train_batched_reference(
    word_freqs: dict[str, int], n_merges: int = 8, batch: int = 4
) -> list[tuple[str, str, int]]:
    """Pure-Python twin of ``bpe_train_batched`` (same ranking, same
    conflict rule, same sequential within-round application)."""
    vocab = {tuple(w): f for w, f in word_freqs.items() if len(w) >= 2}
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        # the top-(batch*4) truncation IS part of the spec: the Spark side
        # only fetches that window, so the twin must rank-then-truncate
        # identically or a conflict-heavy round could pick different merges
        ranked = sorted(
            ((a, b, c) for (a, b), c in counts.items()),
            key=lambda t: (-t[2], t[0], t[1]),
        )[: batch * 4]
        chosen = _pick_nonconflicting(ranked, min(batch, n_merges - len(merges)))
        if not chosen:
            break
        merges.extend(chosen)
        for a, b, _cnt in chosen:
            new_vocab: dict[tuple[str, ...], int] = {}
            for syms, f in vocab.items():
                out: list[str] = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
            vocab = new_vocab
    return merges


def bpe_encode_reference(text: str, merges: list[tuple[str, str, int]]) -> list[str]:
    """Pure-Python reference encoder (same left-to-right single-pass merge
    order as the fold) for the parity test."""
    out: list[str] = []
    for w in text.lower().split(" "):
        syms = list(w)
        for a, b, _ in merges:
            merged: list[str] = []
            for x in syms:
                if merged and merged[-1] == a and x == b:
                    merged[-1] = a + b
                else:
                    merged.append(x)
            syms = merged
        out.extend(syms)
    return out
