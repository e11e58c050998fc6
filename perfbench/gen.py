"""Seeded input generators for the benchmark workloads.

Every table uses the repository's transcript schema
``(conv_id, turn_idx, role, text, tool, ts)``. Signature triggers are
drawn from ``sources.transcripts.TEXT_RULES`` and ``TOOL_RULES``, so every
signature source (filename, hash, FP hash, YARA, C2, exclusion) fires.
Generation is pure pyarrow/numpy in this process and is never timed.

The same ``(workload, seed, scale)`` always yields byte-identical inputs;
tables are cached under the checkout, keyed by workload, seed, scale and
``GEN_VERSION``.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .layers import L

GEN_VERSION = 3

ROLES = ("user", "assistant", "tool")
TS_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
TS_STEP_US = 7_000_000

# Row counts at scale 1.0; `--scale` in the self-test shrinks them.
# fresh_sparse and replay_dense are the measured workloads; the traced run
# also scans a resume_rollup table (Zipf-skewed conversations) through the
# resume and skew layers, and runs the near-dup queries on a neardup sf dir.
#
# The tables are far smaller than the traffic the scan serves (bench.py
# scans ~7.9M stored turns a pass; one local[4] pass over 1M stored turns
# takes ~30 s with the sinks written), because a run has to end within
# about a minute. At these sizes a pass's fixed cost (job launches,
# broadcasts, Python worker round trips: 3-8 CPU seconds) is as large as
# its per-turn work, so the traced run also scans a table of the same
# workload at TINY_SCALE, whose pass is almost all fixed cost, and reports
# the marginal per-turn cost apart from it (as bench.py's `elapsed_small`).
SIZES = {
    "fresh_sparse": {"turns": 12_000},
    "replay_dense": {"turns": 60_000, "pool": 3_000},
    "resume_rollup": {"turns": 40_000, "pool": 1_500, "top_conv": 13_000},
    "neardup": {"docs": 600, "vectors": 180},
}
TINY_SCALE = 0.02

_SYLLABLES = (
    "ka ne ro ti mu so le vi da po ru fe gi lo na te mi su ho ze "
    "qu ya wo ci du je xo bi fu go"
).split()


def vocabulary(n_words: int = 2_000) -> list[str]:
    """A fixed word list (independent of the seed) of lowercase syllable
    words. Words that could complete a signature literal are dropped:
    nothing here contains 'ab' (the overlapping-count probe 'aba'), dots
    (host tokens), digits or upper case."""
    rng = np.random.default_rng(12345)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(1, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w in seen or "ab" in w:
            continue
        seen.add(w)
        words.append(w)
    return words


@dataclass(frozen=True)
class Trigger:
    source: str  # filename | hash | fp_hash | yara | c2 | exclusion
    kind: str  # replace | append | tool
    value: str


def trigger_catalogue() -> list[Trigger]:
    """One trigger per TEXT_RULES / TOOL_RULES row, labelled with the
    signature source it is planted for."""
    src = L.transcripts_module
    out: list[Trigger] = []
    for _mod, _res, action, payload in src.TEXT_RULES:
        if payload in (src.ALPHA_PAYLOAD, src.BETA_PAYLOAD):
            source = "hash"
        elif payload == src.FP_PAYLOAD:
            source = "fp_hash"
        elif any(h in payload for h in ("evil-c2", "203.0.113", "badcdn")):
            source = "c2"
        else:
            source = "yara"
        out.append(Trigger(source, action, payload))
    for _mod, _res, value in src.TOOL_RULES:
        source = "exclusion" if value.startswith("debug-tool") else "filename"
        out.append(Trigger(source, "tool", value))
    return out


@dataclass
class Generated:
    """A generated input: where it lives and the properties it has."""

    workload: str
    root: str
    table: str  # stored transcript table (parquet dir)
    sf_dir: str | None = None  # neardup: documents.parquet + embeddings
    props: dict = field(default_factory=dict)
    # turns-table columns kept in memory for the correctness checks
    turns: pa.Table | None = None
    planted: np.ndarray | None = None  # bool per turn


def _words_text(rng, vocab_arr: pa.Array, n_words: np.ndarray) -> pa.Array:
    """One string per row: n_words[i] vocabulary words joined by spaces."""
    offsets = np.zeros(len(n_words) + 1, dtype=np.int64)
    np.cumsum(n_words, out=offsets[1:])
    ids = rng.integers(0, len(vocab_arr), int(offsets[-1]))
    words = vocab_arr.take(pa.array(ids))
    lists = pa.LargeListArray.from_arrays(pa.array(offsets), words)
    return pc.binary_join(lists, " ").cast(pa.string())


def _apply_triggers(
    texts: list[str], tools: list[str], which: np.ndarray, cat: list[Trigger]
) -> None:
    for i, t in enumerate(which):
        if t < 0:
            continue
        trig = cat[int(t)]
        if trig.kind == "replace":
            texts[i] = trig.value
        elif trig.kind == "append":
            texts[i] = texts[i] + trig.value
        else:
            tools[i] = trig.value


def _turns_table(
    conv_lengths: np.ndarray, texts, tools, roles
) -> pa.Table:
    n = int(conv_lengths.sum())
    conv_idx = np.repeat(np.arange(len(conv_lengths)), conv_lengths)
    starts = np.repeat(np.cumsum(conv_lengths) - conv_lengths, conv_lengths)
    turn_idx = (np.arange(n) - starts).astype(np.int32)
    conv_ids = pa.array([f"conv-{i}" for i in range(len(conv_lengths))])
    return pa.table(
        {
            "conv_id": conv_ids.take(pa.array(conv_idx)),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": texts if isinstance(texts, pa.Array)
            else pa.array(texts, pa.string()),
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array(
                TS_EPOCH_US + np.arange(n, dtype=np.int64) * TS_STEP_US,
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )


def _default_tools(rng, n: int) -> list[str]:
    return [f"tool-{k}" for k in rng.integers(0, 7, n)]


def _uniform_conv_lengths(rng, n: int, lo: int, hi: int) -> np.ndarray:
    lengths = []
    total = 0
    while total < n:
        k = int(rng.integers(lo, hi + 1))
        k = min(k, n - total)
        lengths.append(k)
        total += k
    return np.array(lengths, dtype=np.int64)


def _pool(rng, vocab_arr, size: int, trigger_share: float, cat, lo, hi):
    """(texts, tools, roles, trigger index or -1) for a replay pool."""
    n_words = rng.integers(lo, hi + 1, size)
    texts = _words_text(rng, vocab_arr, n_words).to_pylist()
    tools = _default_tools(rng, size)
    roles = [ROLES[k] for k in rng.integers(0, 3, size)]
    which = np.where(
        rng.random(size) < trigger_share, rng.integers(0, len(cat), size), -1
    )
    _apply_triggers(texts, tools, which, cat)
    return texts, tools, roles, which


def _replayed(
    rng, conv_lengths, pool_texts, pool_tools, pool_roles, pool_which
):
    """Turns drawn uniformly from the pool: (table, trigger index per turn)."""
    n = int(conv_lengths.sum())
    pick = rng.integers(0, len(pool_texts), n)
    pick_arr = pa.array(pick)
    table = _turns_table(
        conv_lengths,
        pa.array(pool_texts, pa.string()).take(pick_arr),
        pa.array(pool_tools, pa.string()).take(pick_arr).to_pylist(),
        pa.array(pool_roles, pa.string()).take(pick_arr).to_pylist(),
    )
    return table, np.asarray(pool_which)[pick]


def _write_table(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, f"{path}/part-{i:05d}.parquet")


def _source_shares(which: np.ndarray, cat: list[Trigger]) -> dict:
    n = len(which)
    shares = {s: 0 for s in ("filename", "hash", "fp_hash", "yara", "c2",
                             "exclusion")}
    planted = which[which >= 0]
    for t in planted:
        shares[cat[int(t)].source] += 1
    return {k: round(v / n, 6) for k, v in shares.items()}


def _conv_stats(conv_lengths: np.ndarray) -> dict:
    return {
        "conv_len_max": int(conv_lengths.max()),
        "conv_len_median": float(np.median(conv_lengths)),
        "convs": int(len(conv_lengths)),
    }


def _text_props(table: pa.Table, n_files: int, batch: int = 20_000) -> dict:
    """Row count, mean text bytes, distinct texts, and the distinct-text
    ratio per matcher batch (distinct texts per batch of `batch` rows
    within each written file, summed, over rows)."""
    text = table.column("text")
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    per_batch = sum(
        pc.count_distinct(text.slice(s, min(batch, hi - s))).as_py()
        for lo, hi in zip(bounds, bounds[1:])
        for s in range(lo, hi, batch)
    )
    return {
        "rows": table.num_rows,
        "mean_text_bytes": round(pc.mean(pc.binary_length(text)).as_py(), 2),
        "distinct_texts": pc.count_distinct(text).as_py(),
        "distinct_ratio": round(per_batch / max(1, table.num_rows), 6),
    }


def generate(workload: str, seed: int, scale: float, cache_root: str) -> Generated:
    """Generate (or reuse from the cache) the inputs of one workload."""
    key = f"{workload}-s{seed}-x{scale:g}-v{GEN_VERSION}"
    root = os.path.join(cache_root, key)
    fn = {
        "fresh_sparse": _gen_fresh_sparse,
        "replay_dense": _gen_replay_dense,
        "resume_rollup": _gen_resume_rollup,
        "neardup": _gen_neardup,
    }[workload]
    # a content-addressed cache entry is complete once props.json exists;
    # the in-memory columns the checks need are re-read from the table
    done = os.path.join(root, "props.json")
    if os.path.exists(done):
        with open(done) as f:
            meta = json.load(f)
        gen = Generated(workload, root, meta["table"], meta.get("sf_dir"),
                        meta["props"])
        gen.turns = pq.read_table(gen.table)
        gen.planted = np.load(os.path.join(root, "planted.npy"))
        return gen
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = np.random.default_rng([seed, GEN_VERSION])
    gen = fn(rng, scale, root)
    np.save(os.path.join(root, "planted.npy"), gen.planted)
    with open(done + ".tmp", "w") as f:
        json.dump({"table": gen.table, "sf_dir": gen.sf_dir,
                   "props": gen.props}, f)
    os.replace(done + ".tmp", done)
    return gen


def _n(workload: str, key: str, scale: float) -> int:
    return max(8, int(SIZES[workload][key] * scale))


def _gen_fresh_sparse(rng, scale: float, root: str) -> Generated:
    """Unique 0.3-3 KB texts, ~1% of turns carrying one trigger."""
    cat = trigger_catalogue()
    vocab_arr = pa.array(vocabulary())
    n = _n("fresh_sparse", "turns", scale)
    conv_lengths = _uniform_conv_lengths(rng, n, 4, 60)
    # mean word is ~5.6 chars + a space; target 300..3000 chars
    target = rng.integers(300, 3001, n)
    n_words = np.maximum(1, target // 7)
    body = _words_text(rng, vocab_arr, n_words).to_pylist()
    # a row-unique leading token guarantees every text is distinct
    texts = [f"msg{i:07d} {b}" for i, b in enumerate(body)]
    tools = _default_tools(rng, n)
    roles = [ROLES[i % 3] for i in range(n)]
    which = np.where(rng.random(n) < 0.01, rng.integers(0, len(cat), n), -1)
    _apply_triggers(texts, tools, which, cat)
    table = _turns_table(conv_lengths, texts, tools, roles)
    path = os.path.join(root, "turns")
    _write_table(table, path, 8)
    props = {**_text_props(table, 8), **_conv_stats(conv_lengths),
             "planted_share": _source_shares(which, cat)}
    gen = Generated("fresh_sparse", root, path, props=props)
    gen.turns, gen.planted = table, which >= 0
    return gen


def _gen_replay_dense(rng, scale: float, root: str) -> Generated:
    """A pool of a few thousand (text, tool, role) turns, ~20% carrying a
    trigger, replayed across conversations."""
    cat = trigger_catalogue()
    vocab_arr = pa.array(vocabulary())
    n = _n("replay_dense", "turns", scale)
    pool = _pool(rng, vocab_arr, _n("replay_dense", "pool", scale), 0.2,
                 cat, 8, 60)
    conv_lengths = _uniform_conv_lengths(rng, n, 4, 120)
    table, which = _replayed(rng, conv_lengths, *pool)
    path = os.path.join(root, "turns")
    _write_table(table, path, 8)
    props = {**_text_props(table, 8), **_conv_stats(conv_lengths),
             "planted_share": _source_shares(which, cat)}
    gen = Generated("replay_dense", root, path, props=props)
    gen.turns, gen.planted = table, which >= 0
    return gen


def _gen_resume_rollup(rng, scale: float, root: str) -> Generated:
    """Zipf-skewed conversation lengths (a few conversations of 10^4+
    turns at scale 1) over a replayed pool with ~10% triggers."""
    cat = trigger_catalogue()
    vocab_arr = pa.array(vocabulary())
    n = _n("resume_rollup", "turns", scale)
    top = _n("resume_rollup", "top_conv", scale)
    lengths = []
    k = 1
    while sum(lengths) < n:
        lengths.append(max(1, int(top / k**1.3)))
        k += 1
    lengths[-1] -= sum(lengths) - n
    conv_lengths = np.array([x for x in lengths if x > 0], dtype=np.int64)
    rng.shuffle(conv_lengths)
    pool = _pool(rng, vocab_arr, _n("resume_rollup", "pool", scale), 0.1,
                 cat, 8, 60)
    table, which = _replayed(rng, conv_lengths, *pool)
    path = os.path.join(root, "turns")
    _write_table(table, path, 8)
    props = {**_text_props(table, 8), **_conv_stats(conv_lengths),
             "planted_share": _source_shares(which, cat)}
    gen = Generated("resume_rollup", root, path, props=props)
    gen.turns, gen.planted = table, which >= 0
    return gen


_DOC_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join shuffle task stage plan cache"
).split()


def _gen_neardup(rng, scale: float, root: str) -> Generated:
    """An sf dir shaped like the bundled testdata: documents.parquet with
    ~25% planted near-duplicates (1-2 word edits of an earlier document)
    and embeddings.parquet (64-d) with ~30% planted near neighbours. The
    documents are also stored as a transcript table (one turn each) so
    the scan layers have an input on this workload too."""
    n_docs = _n("neardup", "docs", scale)
    n_vec = _n("neardup", "vectors", scale)
    docs: list[str] = []
    planted = np.zeros(n_docs, dtype=bool)
    for i in range(n_docs):
        if i > 4 and rng.random() < 0.25:
            words = docs[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _DOC_WORDS[
                    int(rng.integers(0, len(_DOC_WORDS)))
                ]
            planted[i] = True
        else:
            words = [
                _DOC_WORDS[j]
                for j in rng.integers(0, len(_DOC_WORDS), int(rng.integers(8, 60)))
            ]
        docs.append(" ".join(words))
    sf_dir = os.path.join(root, "sf")
    os.makedirs(sf_dir)
    langs = ["en", "de", "zh", "fr"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(docs),
                "lang": pa.array([langs[k] for k in rng.integers(0, 4, n_docs)]),
                "source": pa.array([f"src{k}" for k in rng.integers(0, 4, n_docs)]),
                "n_chars": pa.array([len(d) for d in docs], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    vecs = rng.normal(0, 1, (n_vec, 64))
    near = rng.random(n_vec) < 0.3
    for i in np.nonzero(near)[0]:
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.6, 64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 4
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel()), 64
    ).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vec), pa.int64()),
                "embedding": emb,
                "label": pa.array(rng.integers(0, 4, n_vec), pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    conv_lengths = _uniform_conv_lengths(rng, n_docs, 4, 12)
    tools = _default_tools(rng, n_docs)
    roles = [ROLES[i % 3] for i in range(n_docs)]
    table = _turns_table(conv_lengths, docs, tools, roles)
    path = os.path.join(root, "turns")
    _write_table(table, path, 4)
    props = {
        **_text_props(table, 4),
        **_conv_stats(conv_lengths),
        "docs": n_docs,
        "vectors": n_vec,
        "planted_doc_share": round(float(planted.mean()), 6),
        "planted_vec_share": round(float(near.mean()), 6),
    }
    gen = Generated("neardup", root, path, sf_dir=sf_dir, props=props)
    gen.turns, gen.planted = table, planted
    return gen
