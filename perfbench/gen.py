"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed (numpy ``RandomState``, a
pinned epoch, never the wall clock), so one seed always yields the same
files.  The distributions are frozen here rather than imported from the
package: a later change to ``py_evalfilter_spark.datagen`` must not change
what the benchmark feeds the program.

* ``transcripts`` -- the paper's input schema (conv_id, turn_idx, role,
  text, tool, ts) with Zipf conversation sizes, every 13th conversation a
  mega-conversation, Japanese mixed-script text (katakana, hiragana, kanji,
  full/half-width latin and digits, marks, punctuation, newline variants),
  empty and mark-only turns, near-duplicate consecutive turns, timestamp
  ties, jitter and session gaps; plus the slowly-changing profile table with
  future-stamped versions (the leakage trap) and a labelled training spine.
  Vectorized: ``datagen.make_transcripts`` draws the same shape row by row at
  ~13k turns/s, too slow to regenerate per seed.
* ``shard_stream`` -- a standing corpus plus a fixed sequence of daily
  shards over one Zipf vocabulary.  Each shard is a curation corpus with
  planted exact-duplicate groups, near-duplicate pairs, near-duplicates of
  standing documents, benchmark contamination, junk and repetitive
  documents, PII, and a benchmark source slice drawn from a vocabulary
  disjoint from the corpus; each comes with the ground truth the checker
  needs.

Timestamps are written as ``datetime64[us]``: Spark rejects parquet
``TIMESTAMP(NANOS)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EPOCH_BASE = 1704067200  # 2024-01-01T00:00:00Z
SESSION_GAP_S = 1800

_POOLS = [
    ["カタカナ", "テスト", "スパーク", "データ", "ｽﾋﾟｰﾄﾞ", "パイプライン"],
    ["これは", "です", "ながれ", "とても", "すごい", "はやい"],
    ["変換", "日本語", "処理", "分散", "計算", "集計"],
    ["spark", "Feature", "pipeline", "JOIN", "Ｆｕｌｌ", "ｗｉｄｔｈ", "token"],
    ["123", "42", "２０２４", "7", "100000"],
    ["!", "?", "！", "？", "!?"],
    ["、", "。", "「", "」", "（", "）", "＆", "ー", "-", "＃", "￥"],
]
_MARKS = _POOLS[5]
_WS = [" ", "  ", "　", "\n", "\\n", "\r"]
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "exec", "browse", "none"]
STATES = ["tokyo", "osaka", "kyoto", "nagoya", "fukuoka"]
JOBS = ["eng", "sales", "student", "none"]
GENDERS = ["unk", "male", "female"]

# word-3-shingle Jaccard the LSH operators are run at
NEARDUP_THRESHOLD = 0.8
SHINGLE_N = 3


def _us(seconds: np.ndarray) -> pd.Series:
    return pd.to_datetime(seconds, unit="s").astype("datetime64[us]")


def _ranges(sizes: np.ndarray) -> np.ndarray:
    """0..size-1 for each size, concatenated."""
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    return np.arange(int(sizes.sum())) - starts


def _turn_texts(rng: np.random.RandomState, n: int) -> list[str]:
    n_parts = rng.randint(1, 14, n)
    total = int(n_parts.sum())
    sizes = np.array([len(p) for p in _POOLS])
    offsets = np.cumsum(sizes) - sizes
    flat = np.array([w for p in _POOLS for w in p], dtype=object)
    pool = rng.randint(0, len(_POOLS), total)
    tok = flat[offsets[pool] + (rng.random_sample(total) * sizes[pool]).astype(int)]
    ws = np.array(_WS, dtype=object)[rng.randint(0, len(_WS), total)]
    parts = np.where(rng.random_sample(total) < 0.6, tok + ws, tok).tolist()
    ends = np.cumsum(n_parts).tolist()
    starts = [0] + ends[:-1]
    return ["".join(parts[s:e]) for s, e in zip(starts, ends)]


def transcripts(
    n_turns: int, seed: int
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """(transcripts, profile_events, spine) with about ``n_turns`` turns."""
    rng = np.random.RandomState(seed)
    # conversation sizes: Zipf body, every 13th conversation a mega one
    sizes = rng.zipf(1.6, n_turns) % 30 + 3
    sizes[::13] += rng.randint(60, 120, len(sizes[::13]))
    n_convs = int(np.searchsorted(np.cumsum(sizes), n_turns)) + 1
    sizes = sizes[:n_convs]
    n = int(sizes.sum())
    conv = np.repeat(np.arange(n_convs), sizes)
    turn_idx = _ranges(sizes)

    gap = rng.randint(1, 120, n)
    brk = rng.random_sample(n) < 0.06
    gap[brk] = SESSION_GAP_S + rng.randint(60, 7200, int(brk.sum()))
    gap[rng.random_sample(n) < 0.05] = 0  # timestamp ties
    clock = np.cumsum(gap)
    conv_start = np.cumsum(sizes) - sizes
    t0 = EPOCH_BASE + rng.randint(0, 30 * 86400, n_convs)
    base = clock[conv_start] - gap[conv_start]
    ts = t0[conv] + clock - base[conv]
    jitter = rng.random_sample(n) < 0.04
    ts[jitter] -= rng.randint(1, 30, int(jitter.sum()))

    texts = _turn_texts(rng, n)
    r = rng.random_sample(n)
    for i in np.flatnonzero(r < 0.02):
        texts[i] = ""  # zero-token turn
    marks = np.flatnonzero((r >= 0.02) & (r < 0.04))
    for i, m in zip(marks, rng.randint(0, len(_MARKS), len(marks))):
        texts[i] = _MARKS[m]
    for i in np.flatnonzero((r >= 0.04) & (r < 0.07) & (turn_idx > 0)):
        texts[i] = texts[i - 1] + "!"  # near-duplicate of the previous turn

    tool = np.array(TOOLS, dtype=object)[rng.randint(0, len(TOOLS), n)]
    tool[rng.random_sample(n) >= 0.35] = None
    conv_ids = np.array([f"conv_{c:07d}" for c in range(n_convs)], dtype=object)
    t = pd.DataFrame(
        {
            "conv_id": conv_ids[conv],
            "turn_idx": turn_idx.astype("int32"),
            "role": np.array(ROLES, dtype=object)[rng.randint(0, len(ROLES), n)],
            "text": texts,
            "tool": tool,
            "ts": _us(ts),
        }
    )

    # profile versions: 1-4 per conversation; the last one is stamped after
    # the conversation ends 30% of the time (the leakage trap)
    lo = np.minimum.reduceat(ts, conv_start)
    hi = np.maximum.reduceat(ts, conv_start)
    n_ver = rng.randint(1, 5, n_convs)
    pconv = np.repeat(np.arange(n_convs), n_ver)
    m = len(pconv)
    span = np.maximum(hi - lo, 1)[pconv]
    pts = lo[pconv] + (-3600 + (rng.random_sample(m) * (span + 3600)).astype(np.int64))
    last = _ranges(n_ver) == n_ver[pconv] - 1
    future = last & (rng.random_sample(m) < 0.3)
    pts[future] = hi[pconv][future] + rng.randint(60, 86400, int(future.sum()))
    birth = rng.randint(1950, 2010, m)
    birth[rng.random_sample(m) < 0.1] = 0
    p = pd.DataFrame(
        {
            "conv_id": conv_ids[pconv],
            "ts": pts,
            "empathies": rng.randint(0, 50, m).astype("int64"),
            "hasproposal": rng.random_sample(m) < 0.5,
            "state": np.array(STATES, dtype=object)[rng.randint(0, len(STATES), m)],
            "gender": np.array(GENDERS, dtype=object)[rng.randint(0, len(GENDERS), m)],
            "birthyear": birth.astype("int64"),
            "job": np.array(JOBS, dtype=object)[rng.randint(0, len(JOBS), m)],
        }
    )
    # unique ts per conversation, as the as-of contract requires
    p = p.drop_duplicates(["conv_id", "ts"]).sort_values(["conv_id", "ts"])
    p["ts"] = _us(p["ts"].to_numpy())
    p = p.reset_index(drop=True)

    # training spine: a quarter of the turns, labelled shortly after the turn
    pick = np.flatnonzero(rng.random_sample(n) < 0.25)
    spine = pd.DataFrame(
        {
            "conv_id": conv_ids[conv[pick]],
            "ts": _us(ts[pick] + rng.randint(0, 600, len(pick))),
            "label": rng.randint(0, 2, len(pick)).astype("int32"),
        }
    ).drop_duplicates(["conv_id", "ts"]).reset_index(drop=True)
    return t, p, spine


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnoprstuvwxyz"))  # no "q"


def _vocabulary(rng: np.random.RandomState, size: int, prefix: str) -> np.ndarray:
    """``size`` distinct lowercase pseudo-words of 2-9 letters.  Words from
    ``_LETTERS`` never contain "q", so a ``prefix="q"`` vocabulary shares no
    word with a ``prefix=""`` one."""
    words: dict[str, None] = {}
    while len(words) < size:
        k = int(rng.randint(2, 10)) - len(prefix)
        words[prefix + "".join(rng.choice(_LETTERS, k))] = None
    return np.array(list(words), dtype=object)


class _Zipf:
    """Word sampler with p(rank) ~ 1 / rank^1.1 over a fixed vocabulary."""

    def __init__(self, rng: np.random.RandomState, vocab: np.ndarray) -> None:
        self.rng = rng
        self.vocab = vocab
        w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
        self.cdf = np.cumsum(w / w.sum())

    def draw(self, k: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, self.rng.random_sample(k))
        return self.vocab[np.minimum(idx, len(self.vocab) - 1)]

    def doc(self, k: int) -> str:
        return " ".join(self.draw(k))

    def distinct_doc(self, k: int) -> str:
        """``k`` words, none repeated: no bigram repeats, so the document
        clears the quality and repetition filters by construction."""
        seen: dict[str, None] = {}
        while len(seen) < k:
            for w in self.draw(2 * k):
                seen[w] = None
                if len(seen) == k:
                    break
        return " ".join(seen)


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    """Word n-gram set, the same units the program's word-unit verify uses
    (lowercased whitespace tokens)."""
    toks = text.lower().split()
    if not toks:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def _insert_word(rng: np.random.RandomState, text: str, word: str) -> str:
    w = text.split()
    pos = int(rng.randint(0, len(w) + 1))
    return " ".join(w[:pos] + [word] + w[pos:])


def _shard(
    rng: np.random.RandomState,
    words: _Zipf,
    bench_words: _Zipf,
    first_id: int,
    n_docs: int,
    standing: list[str],
    used: set[int],
) -> tuple[pd.DataFrame, dict]:
    """One shard of ``n_docs`` documents (ids from ``first_id``) and its
    ground truth.

    Source ``src0`` (every 20th document) is the benchmark slice; its words
    come from a vocabulary disjoint from the corpus, so only the planted
    contaminations share n-grams with it.  Planted sets are disjoint:
    exact-dup group members, near-dup pairs, contaminations, junk and
    repetitive documents, PII carriers and near-dups of standing documents
    never overlap, so each has one expected outcome.  ``used`` holds the
    standing documents already copied by earlier shards.
    """
    source = np.array([f"src{i % 20}" for i in range(n_docs)], dtype=object)
    texts = [words.doc(int(k)) for k in rng.randint(30, 120, n_docs)]
    bench = np.flatnonzero(source == "src0")
    for i in bench:
        texts[i] = bench_words.distinct_doc(int(rng.randint(30, 80)))
    free = rng.permutation(np.flatnonzero(source != "src0")).tolist()

    def take(k: int) -> list[int]:
        out, free[:] = free[:k], free[k:]
        return out

    # ~1% of documents in exact-duplicate groups of 2-4
    groups = []
    while sum(len(g) for g in groups) < n_docs // 100:
        g = sorted(take(int(rng.randint(2, 5))))
        text = words.distinct_doc(int(rng.randint(30, 100)))
        for i in g:
            texts[i] = text
        groups.append(g)
    # ~5% of documents are one-word-insertion near-dups of a distinct source
    near = []
    for _ in range(n_docs // 40):
        a, b = take(2)
        texts[a] = words.distinct_doc(int(rng.randint(60, 110)))
        texts[b] = _insert_word(rng, texts[a], words.draw(1)[0])
        if jaccard(texts[a], texts[b]) >= NEARDUP_THRESHOLD + 0.05:
            near.append((a, b))
    # ~10% are near-dups of standing documents with at least 60 words
    standing_pairs = []
    for b in take(n_docs // 10):
        a = int(rng.randint(len(standing)))
        while a in used or len(standing[a].split()) < 60:
            a = int(rng.randint(len(standing)))
        used.add(a)
        texts[b] = _insert_word(rng, standing[a], words.draw(1)[0])
        if jaccard(standing[a], texts[b]) >= NEARDUP_THRESHOLD + 0.05:
            standing_pairs.append((a, first_id + b))
    # contamination: a 10-word span of a benchmark document pasted in
    contaminated = take(max(n_docs // 200, 1))
    for i in contaminated:
        w = texts[int(rng.choice(bench))].split()
        s = int(rng.randint(0, len(w) - 10))
        texts[i] = _insert_word(rng, texts[i], " ".join(w[s : s + 10]))
    # junk (fails the quality score) and repetitive (fails the Gopher
    # top-bigram cut) documents
    junk = take(max(n_docs // 100, 1))
    for i in junk:
        texts[i] = " ".join(["!!??##", "--", "..."] * int(rng.randint(2, 6)))
    repetitive = take(max(n_docs // 100, 1))
    for i in repetitive:
        texts[i] = " ".join([" ".join(words.draw(2))] * int(rng.randint(15, 40)))
    # PII on ~5% (counted, then redacted in place)
    for i in take(n_docs // 20):
        pii = [
            f"user{rng.randint(10**5)}@mail{rng.randint(100)}.example.com",
            f"10.{rng.randint(256)}.{rng.randint(256)}.{rng.randint(256)}",
            f"+81 {rng.randint(100, 1000)}-{rng.randint(1000, 10000)}-{rng.randint(1000, 10000)}",
        ][int(rng.randint(0, 3))]
        texts[i] = _insert_word(rng, texts[i], pii)

    docs = pd.DataFrame(
        {
            "doc_id": np.arange(first_id, first_id + n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "ja", "es", "fr", "de"], dtype=object)[
                rng.randint(0, 5, n_docs)
            ],
            "source": source,
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int32)

    def ids(xs):
        return [first_id + int(x) for x in xs]

    truth = {
        "benchmark_ids": ids(bench),
        "exact_groups": [ids(g) for g in groups],
        "near_pairs": [ids(p) for p in near],
        "dropped_ids": sorted(ids(contaminated + junk + repetitive)),
        "standing_pairs": standing_pairs,
    }
    return docs, truth


def shard_stream(
    n_standing: int, n_shards: int, shard_size: int, seed: int
) -> tuple[pd.DataFrame, list[tuple[pd.DataFrame, dict]]]:
    """A standing corpus of ``n_standing`` documents (ids 0..) and
    ``n_shards`` daily shards of ``shard_size`` documents each, drawn from
    one Zipf vocabulary of 4,000 words (a 30-word vocabulary floods the LSH
    candidates and inverts measured gains)."""
    rng = np.random.RandomState(seed)
    words = _Zipf(rng, _vocabulary(rng, 4000, ""))
    bench_words = _Zipf(rng, _vocabulary(rng, 800, "q"))
    standing = [words.distinct_doc(int(k)) for k in rng.randint(30, 120, n_standing)]
    corpus = pd.DataFrame(
        {"doc_id": np.arange(n_standing, dtype=np.int64), "text": standing}
    )
    used: set[int] = set()
    shards = [
        _shard(rng, words, bench_words, n_standing + s * shard_size, shard_size, standing, used)
        for s in range(n_shards)
    ]
    return corpus, shards
