"""Stats-driven codec auto-selection — the engine's novel piece.

The reference deliberately ships encodings without a chooser ("this crate
does not provide that logic — README.md:95-99"); writers like parquet-mr/
pyarrow decide PLAIN vs RLE_DICTIONARY vs DELTA. This module is that
decision logic, mirroring their heuristics (distinct-count, run-length,
value-range, sortedness) plus a try-and-measure tie-break on a sample so
the pick is never much worse than the best candidate:

1. stats → shortlist (heuristics below);
2. encode a bounded sample with every shortlisted codec, rank by bytes;
3. the winner encodes the full page; an outer block codec (zstd) is kept
   only when it actually shrinks the encoded payload.

A ``plain`` candidate is always shortlisted, and the outer-zstd pass runs
on every codec's output, so the result can't lose to general-purpose
compression by more than the header overhead (SURVEY §7 risk note).
"""

from __future__ import annotations

from dataclasses import dataclass

from .stats import BatchStats

# codec ids shared with blob.py
PLAIN, DICT, RLE_FOR, DELTA, DELTA_BYTE_ARRAY, FSST, CONSTANT, BITMAP, BSS, LIST_F = range(10)
NESTED = 10  # recursive container (list/struct/map/decimal/fixed-binary)
CODEC_NAMES = {
    PLAIN: "plain",
    DICT: "dict",
    RLE_FOR: "rle_for",
    DELTA: "delta",
    DELTA_BYTE_ARRAY: "delta_byte_array",
    FSST: "fsst",
    CONSTANT: "constant",
    BITMAP: "bitmap",
    BSS: "byte_stream_split",
    LIST_F: "list_floats",
    NESTED: "nested",
}


@dataclass
class SelectorConfig:
    sample_values: int = 1024  # values measured per candidate
    dict_ratio: float = 0.5  # ndv/nonnull below this → dict candidate
    run_ratio: float = 0.125  # runs/nonnull below this → rle candidate
    # sortedness above this → delta candidate. Generous on purpose: delta
    # tolerates local jitter (zigzag min_delta), and the sample measurement
    # rejects it when it actually loses.
    sorted_min: float = 0.60
    fsst_min_avg_len: float = 6.0  # avg string bytes above this → fsst candidate
    outer: str | None = "zstd"  # outer block codec to try
    # zstd-2: measured identical ratio to zstd-3 on the web corpus
    # (0.302 vs 0.302 html, 0.351 vs 0.350 text) at ~1.5x the speed
    outer_level: int | None = 2
    outer_min_gain: float = 0.9  # keep outer only if ≤ 90% of encoded size
    outer_min_bytes: int = 128  # don't bother below this payload size
    # measure these outer codecs on the chunk's probe page and pick
    # cost-aware (cheapest within outer_slack of the smallest) — () keeps
    # the fixed cfg.outer. ("lz4", "zstd") is the speed profile: lz4
    # decompresses ~5x faster and wins whenever its size is close enough.
    outer_candidates: tuple = ()
    outer_slack: float = 0.03  # cheaper outer wins within this fraction
    enable_fsst: bool = True
    enable_front_coding: bool = True
    # a cheaper-to-encode codec wins when its measured size is within this
    # fraction of the best candidate (speed/ratio tradeoff knob)
    speed_slack: float = 0.02
    # candidate-measurement outer compressions run in this many threads
    # (they are independent, deterministic, and the heavy compressors
    # release the GIL). >1 only pays when the outer codec is expensive —
    # the heavy-outer archival profiles opt in; the default zstd-2 outer
    # measures in single-digit milliseconds and stays sequential.
    select_threads: int = 1


DEFAULT = SelectorConfig()


def speed_profile() -> SelectorConfig:
    """Decode-bound consumers: measured lz4-vs-zstd outer per chunk, lz4
    wins within 50% size slack (~1.8× encode wall at ~1% size on the web
    corpus; lz4 decompresses ~5× faster)."""
    return SelectorConfig(outer_candidates=("lz4", "zstd"), outer_slack=0.5)


def archival_profile() -> SelectorConfig:
    """Cold storage: zstd-19 outer — 10% smaller on the web corpus than
    the default (ratio 0.301 vs 0.336 with ~47 MB chunks) at ~7× the
    encode cost. Measured: level 10 was strictly dominated here (0.323 at
    3-4× cost — level 6 even beat it at 0.322); 19 is where the size-cost
    curve pays again. Pair with large chunks (tens of MB): per-chunk
    symbol-table training and zstd context setup amortize."""
    return SelectorConfig(outer_level=19, select_threads=4)


def warm_archive_profile() -> SelectorConfig:
    """Read-heavy archival consumers: brotli-10 outer — measured on the
    web corpus (BASELINE.md round-4 table): within ~4% of zstd-19's size
    while DECODING ~4× faster, at ~half zstd-19's encode cost. The pick
    for archived data that still gets regular scan traffic; cold data
    nobody reads stays on ``archival_profile()`` (zstd-19, smallest),
    hot interactive data on the default zstd-2. ``select_threads``:
    at level 10 the candidate measurement is 3-4 brotli compressions per
    column — independent, GIL-releasing, byte-deterministic — so the
    archival profiles overlap them; finishing a chunk sooner shortens the
    straggler tail of any partial task wave at identical total CPU."""
    return SelectorConfig(outer="brotli", outer_level=10, select_threads=4)


def shortlist(st: BatchStats, kind: str, is_float: bool, cfg: SelectorConfig = DEFAULT) -> list[int]:
    """Heuristic candidate codecs, cheapest-to-encode first."""
    m = st.nonnull
    if kind == "bool":
        return [BITMAP]
    if kind == "list":
        return [LIST_F]
    if kind == "nested":
        # containers recurse: the child pages run their own selection,
        # the container itself is pure structure (offsets/fields)
        return [NESTED]
    if m == 0:
        return [PLAIN]
    if st.ndv == 1:
        return [CONSTANT]
    out: list[int] = []
    if kind == "binary":
        if st.ndv <= max(16, m * cfg.dict_ratio):
            out.append(DICT)
        avg_len = st.raw_bytes / m
        if cfg.enable_front_coding and m > 4:
            out.append(DELTA_BYTE_ARRAY)
        if cfg.enable_fsst and avg_len >= cfg.fsst_min_avg_len:
            out.append(FSST)
        out.append(PLAIN)
        return out
    # natives
    if st.ndv <= max(16, m * cfg.dict_ratio):
        out.append(DICT)
    if not is_float:
        out.append(RLE_FOR)
        if st.sorted_frac >= cfg.sorted_min:
            out.append(DELTA)
    else:
        out.append(BSS)  # byte planes compress better under the outer codec
    out.append(PLAIN)
    return out


# relative encode cost (measured on the webgen corpus, 128k-row chunks):
# plain ~114 MB/s, dict/rle/delta/bss vector kernels, front-coding ~50,
# fsst ~33 — lower rank = cheaper encode+decode
# relative (de)compression cost of outer block codecs — lower = cheaper
OUTER_COST_RANK = {None: 0, "snappy": 1, "lz4": 1, "zstd": 2, "gzip": 3, "brotli": 4}

ENCODE_COST_RANK = {
    CONSTANT: 0,
    BITMAP: 0,
    PLAIN: 1,
    LIST_F: 1,
    NESTED: 1,
    BSS: 1,
    DICT: 2,
    RLE_FOR: 2,
    DELTA: 2,
    DELTA_BYTE_ARRAY: 4,
    FSST: 5,
}


def pick_by_measure(sizes: dict[int, int], cfg: SelectorConfig = DEFAULT) -> int:
    """Smallest sample encoding wins — unless a cheaper-to-encode codec is
    within ``cfg.speed_slack`` of it (a 2x-faster encoder beats a <2%
    size edge at 100 TB). Ties break toward the cheaper decoder."""
    best_size = min(sizes.values())
    cutoff = best_size * (1.0 + cfg.speed_slack)
    near = {c: s for c, s in sizes.items() if s <= cutoff}
    return min(near.items(), key=lambda kv: (ENCODE_COST_RANK.get(kv[0], 9), kv[1], kv[0]))[0]


def pick_outer(sizes: dict[str, int], cfg: SelectorConfig = DEFAULT) -> str:
    """Cost-aware outer codec: the cheapest (``OUTER_COST_RANK``) of the
    measured codecs within ``cfg.outer_slack`` of the smallest size; ties
    break toward the smaller, then the first measured."""
    cutoff = min(sizes.values()) * (1 + cfg.outer_slack)
    return min(
        (n for n in sizes if sizes[n] <= cutoff),
        key=lambda n: (OUTER_COST_RANK.get(n, 9), sizes[n]),
    )
