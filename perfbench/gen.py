"""Seeded input generator for the benchmark.

Writes parquet tables with numpy + pyarrow only (no Spark), so input
generation costs the same whatever the engine does.  The seed changes
conversation ids, document ids, texts and timestamps; the shapes stay
fixed:

- ``turns``: the input-hint schema ``(conv_id string, turn_idx int,
  role string, text string, tool string, ts timestamp)``.  One
  mega-conversation holds 1% of the turns (the hot key), about 1/29
  texts are empty and 1/31 NULL, tools are mostly NULL with an empty
  band, and inter-turn gaps include 40-minute session breaks and
  zero-gap ties.
- ``state``: ``(conv_id, ts, state_score, state_tag)``, one row about
  every fourth turn, dated one second AFTER its turn (the turn itself
  must not see it), plus one future-dated ``LEAKED_FROM_FUTURE`` row per
  conversation that no turn may ever see.
- ``docs``: ``(doc_id bigint, text, lang, source, n_chars bigint)``
  with exact-duplicate, near-duplicate-family, low-quality,
  non-English and PII bands.

"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(["search", "browser", "python", "bash", "editor"],
                 dtype=object)
TURN_WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu query table join window".split(),
    dtype=object)
# stopword-heavy English text reads "en" to the stopword-vote language id
EN_STOP = np.array("the a of and to in is it that for".split(), dtype=object)
XX_WORDS = np.array("zrk qwv xhl pzt vrn klm wqz jxv bdg tsk nvx grp hzl "
                    "mwq fkt drz".split(), dtype=object)
LEAK_TAG = "LEAKED_FROM_FUTURE"
EPOCH_US = 1_735_689_600_000_000       # 2025-01-01T00:00:00Z
SEC_US = 1_000_000


def _content_vocab(rng: np.random.Generator, n: int = 400) -> np.ndarray:
    """Seeded pseudo-words: consonant-vowel syllables, 2-3 per word."""
    cons, vows = list("bcdfghjklmnprstvwz"), list("aeiou")
    sylls = np.array([c + v for c in cons for v in vows], dtype=object)
    k = rng.integers(2, 4, size=n)
    picks = rng.integers(0, len(sylls), size=(n, 3))
    words = {"".join(sylls[picks[i, :k[i]]]) for i in range(n)}
    return np.array(sorted(words - set(EN_STOP)), dtype=object)


def _salad(rng: np.random.Generator, vocab: np.ndarray,
           lengths: np.ndarray) -> list:
    """One space-joined string of ``lengths[i]`` vocab words per row."""
    flat = vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))]
    ends = np.cumsum(lengths)
    return [" ".join(flat[e - n:e]) for n, e in zip(lengths, ends)]


def make_turns(n_turns: int, seed: int) -> tuple[pa.Table, pa.Table, str]:
    """(turns, state, mega conv_id) for about ``n_turns`` turns."""
    rng = np.random.default_rng([seed, 1])
    mega = max(1, n_turns // 100)
    n_convs = max(1, n_turns // 100)
    per_conv = max(1, (n_turns - mega) // n_convs)
    prefix = f"{int(rng.integers(0, 1 << 32)):08x}"
    ids = np.array([f"c{prefix}-{k:06d}" for k in rng.permutation(n_convs)],
                   dtype=object)
    mega_id = f"mega-{prefix}"

    conv = np.concatenate([np.repeat(ids, per_conv),
                           np.full(mega, mega_id, dtype=object)])
    lens = np.concatenate([np.full(n_convs, per_conv), [mega]])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    n = int(lens.sum())
    turn_idx = (np.arange(n) - np.repeat(starts, lens)).astype(np.int32)

    u = rng.random(n)
    step = np.where(u < 1 / 17, 2400,
                    np.where(u < 1 / 17 + 1 / 23, 0,
                             45 + rng.integers(0, 20, size=n)))
    csum = np.cumsum(step)
    offset = csum - np.repeat(csum[starts] - step[starts], lens)
    conv_start = rng.integers(0, 30 * 86400, size=len(lens))
    ts = EPOCH_US + (np.repeat(conv_start, lens) + offset) * SEC_US

    text = np.array(_salad(rng, TURN_WORDS,
                           3 + rng.integers(0, 9, size=n)), dtype=object)
    v = rng.random(n)
    text[v < 1 / 29] = ""
    text[(v >= 1 / 29) & (v < 1 / 29 + 1 / 31)] = None
    w = rng.random(n)
    tool = np.where(w < 1 / 3, TOOLS[rng.integers(0, len(TOOLS), size=n)],
                    None)
    tool[(w >= 1 / 3) & (w < 1 / 3 + 1 / 40)] = ""
    role = ROLES[rng.integers(0, len(ROLES), size=n)]

    order = rng.permutation(n)          # input is not clustered by key
    tstype = pa.timestamp("us", tz="UTC")
    turns = pa.table({
        "conv_id": pa.array(conv[order], pa.string()),
        "turn_idx": pa.array(turn_idx[order], pa.int32()),
        "role": pa.array(role[order], pa.string()),
        "text": pa.array(text[order], pa.string()),
        "tool": pa.array(tool[order], pa.string()),
        "ts": pa.array(ts[order], tstype),
    })

    emit = rng.random(n) < 0.25
    k = int(emit.sum())
    last = starts + lens - 1
    st_conv = np.concatenate([conv[emit], conv[last]])
    st_ts = np.concatenate([ts[emit] + SEC_US, ts[last] + 9999 * SEC_US])
    score = np.concatenate([rng.integers(0, 1000, size=k) / 10.0,
                            np.full(len(last), -1e9)])
    tag = np.concatenate([
        np.array([f"tag{j}" for j in rng.integers(0, 5, size=k)],
                 dtype=object),
        np.full(len(last), LEAK_TAG, dtype=object)])
    state = pa.table({
        "conv_id": pa.array(st_conv, pa.string()),
        "ts": pa.array(st_ts, tstype),
        "state_score": pa.array(score, pa.float64()),
        "state_tag": pa.array(tag, pa.string()),
    })
    return turns, state, mega_id


def make_docs(n_docs: int, seed: int) -> pa.Table:
    """Curation corpus: ~8% exact duplicates, ~8% near-duplicates (one
    or two words changed in a copy of an earlier document), ~6% low
    quality, ~5% non-English, ~10% carrying an e-mail and a phone."""
    rng = np.random.default_rng([seed, 2])
    vocab = _content_vocab(rng)
    lens = 30 + rng.integers(0, 50, size=n_docs)
    # about a third stopwords, the rest content words
    flat = np.where(rng.random(int(lens.sum())) < 0.35,
                    EN_STOP[rng.integers(0, len(EN_STOP),
                                         size=int(lens.sum()))],
                    vocab[rng.integers(0, len(vocab),
                                       size=int(lens.sum()))])
    ends = np.cumsum(lens)
    words = [list(flat[e - n:e]) for n, e in zip(lens, ends)]

    band = rng.random(n_docs)
    lang = np.full(n_docs, "en", dtype=object)
    texts: list = [None] * n_docs
    for i in range(n_docs):
        b = band[i]
        if i >= 20 and b < 0.08:                       # exact duplicate
            src = int(rng.integers(0, i))
            texts[i], lang[i] = texts[src], lang[src]
            continue
        if i >= 20 and b < 0.16:                       # near-dup family
            src = int(rng.integers(max(0, i - 200), i))
            base = texts[src]
            if base and lang[src] == "en" and len(base.split()) >= 30:
                toks = base.split()
                for _ in range(int(rng.integers(1, 3))):
                    toks[int(rng.integers(0, len(toks)))] = \
                        vocab[int(rng.integers(0, len(vocab)))]
                texts[i] = " ".join(toks)
                continue
        if b < 0.22:                                   # low quality
            texts[i] = ("", "ok ok", None)[int(rng.integers(0, 3))]
            continue
        if b < 0.27:                                   # non-English
            texts[i] = " ".join(XX_WORDS[rng.integers(0, len(XX_WORDS),
                                                      size=lens[i])])
            lang[i] = "xx"
            continue
        t = " ".join(words[i])
        if b > 0.90:                                   # PII band
            t += (f" contact user{int(rng.integers(0, 10**6))}@example.com"
                  f" or +1 555 {int(rng.integers(100, 1000))}"
                  f" {int(rng.integers(1000, 10000))}")
        texts[i] = t
    base_id = int(rng.integers(0, 1 << 40))
    doc_id = base_id + rng.permutation(n_docs).astype(np.int64)
    n_chars = [None if t is None else len(t) for t in texts]
    source = np.array([f"src{j}" for j in rng.integers(0, 5, size=n_docs)],
                      dtype=object)
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array(n_chars, pa.int64()),
    })


def write_table(table: pa.Table, path: str, files: int) -> None:
    """``files`` parquet files of equal row count under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(path, f"part-{i:03d}.parquet"))
