"""FSST — Fast Static Symbol Table string compression.

No counterpart in the reference crate; implemented from the published
paper (Boncz, Neumann, Leis, "FSST: Fast Random Access String
Compression", VLDB 2020): a table of ≤255 symbols of 1-8 bytes built on a
sample by iterative pair-merging, greedy longest-match encoding, code 255
as the escape marker for uncovered bytes.

Implementation notes (C accelerator or numpy, no per-row work):
- encode is greedy longest match at each position over the whole chunk
  buffer: the C kernel when it loads, else a vectorized numpy path;
- training runs a few generations over a bounded sample, counting
  symbols and adjacent pairs from the encoded code stream;
- decode is fully vectorized: escape resolution via run-parity on 0xFF
  runs, then a gather from the symbol blob (the paper's headline property
  — decode much faster than encode — holds here too).

Blob layout: [uleb n_symbols][u8 len × n_symbols][symbol bytes]
             [uleb payload_len][payload]
"""

from __future__ import annotations

import numpy as np

from .varint import uleb128_decode, uleb128_encode

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_SYMBOL_LEN = 8
GENERATIONS = 4
DEFAULT_SAMPLE = 1 << 15  # 32 KiB: same ratio as 64 KiB at half the training cost


class SymbolTable:
    __slots__ = ("symbols",)

    def __init__(self, symbols: list[bytes]):
        if len(symbols) > MAX_SYMBOLS:
            raise ValueError("too many symbols")
        self.symbols = symbols

    def serialize(self) -> bytes:
        parts = [uleb128_encode(len(self.symbols))]
        parts.append(bytes(len(s) for s in self.symbols))
        parts.extend(self.symbols)
        return b"".join(parts)

    @classmethod
    def deserialize(cls, buf: memoryview, pos: int = 0) -> tuple["SymbolTable", int]:
        n, pos = uleb128_decode(buf, pos)
        lens = bytes(buf[pos : pos + n])
        pos += n
        symbols = []
        for ln in lens:
            symbols.append(bytes(buf[pos : pos + ln]))
            pos += ln
        return cls(symbols), pos


def _token_entries(codes: np.ndarray, n_symbols: int) -> np.ndarray:
    """Token stream from an encoded payload: entry < n_symbols is a symbol
    code, entry >= 256 is literal byte (entry - 256). Escape resolution by
    run-parity on 0xFF runs (same logic as decode_with_table)."""
    n = len(codes)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    ff = np.flatnonzero(codes == ESCAPE)
    is_literal = np.zeros(n, dtype=bool)
    if len(ff):
        run_start = np.concatenate(([0], np.flatnonzero(np.diff(ff) > 1) + 1))
        run_start_pos = np.repeat(ff[run_start], np.diff(np.concatenate((run_start, [len(ff)]))))
        esc_pos = ff[(ff - run_start_pos) % 2 == 0]
        esc_pos = esc_pos[esc_pos + 1 < n]
        is_literal[esc_pos + 1] = True
        is_code = ~is_literal
        is_code[esc_pos] = False
    else:
        is_code = ~is_literal
    token_pos = np.flatnonzero(is_code | is_literal)
    entries = codes[token_pos].astype(np.int64)
    return np.where(is_literal[token_pos], entries + 256, entries)


def _entry_keys(table: SymbolTable) -> tuple[np.ndarray, np.ndarray]:
    """(value, length) of every token entry (``_token_entries``
    numbering): an entry's bytes packed big-endian into a zero-padded
    uint64. Ordering by (value, length) is ordering by the bytes."""
    val = np.zeros(512, dtype=np.uint64)
    ln = np.zeros(512, dtype=np.int64)
    for e, s in enumerate(table.symbols):
        val[e] = int.from_bytes(s.ljust(8, b"\0"), "big")
        ln[e] = len(s)
    val[256:] = np.arange(256, dtype=np.uint64) << np.uint64(56)
    ln[256:] = 1
    return val, ln


def train(sample: bytes, generations: int = GENERATIONS) -> SymbolTable:
    """Build a symbol table on a sample (paper §3.3 bottom-up style:
    iterate tokenize → count symbols & adjacent-pair concatenations →
    keep top candidates by gain).

    Each generation encodes the sample with the current table (C/numpy
    greedy) and counts in numpy only: every candidate is a (big-endian
    zero-padded uint64, length) pair, equal candidates from single tokens
    and from pairs merge by ``lexsort`` + ``reduceat``, and the table is
    the top ``MAX_SYMBOLS`` by (gain, bytes), largest first. Gain is the
    bytes a symbol saves per occurrence: len-1 for a multi-byte symbol,
    1 for a single byte (it avoids the escape byte)."""
    sample = sample[:DEFAULT_SAMPLE]
    table = SymbolTable([])
    if not sample:
        return table
    for _ in range(generations):
        payload = encode_with_table(sample, table)
        entries = _token_entries(np.frombuffer(payload, dtype=np.uint8), len(table.symbols))
        ent_val, ent_len = _entry_keys(table)
        cnt = np.bincount(entries, minlength=512)
        single = np.flatnonzero(cnt)
        vals, lens, counts = [ent_val[single]], [ent_len[single]], [cnt[single]]
        if len(entries) > 1:
            pair_cnt = np.bincount(entries[:-1] * 512 + entries[1:])
            # rare pairs can never earn a code slot (diverse text has 10k+
            # singleton pairs)
            pk = np.flatnonzero(pair_cnt >= 4)
            a, b = pk >> 9, pk & 511
            la, lb = ent_len[a], ent_len[b]
            fit = la + lb <= MAX_SYMBOL_LEN
            a, b, la, lb, pk = a[fit], b[fit], la[fit], lb[fit], pk[fit]
            vals.append(ent_val[a] | (ent_val[b] >> (np.uint64(8) * la.astype(np.uint64))))
            lens.append(la + lb)
            counts.append(pair_cnt[pk])
        val, ln, c = np.concatenate(vals), np.concatenate(lens), np.concatenate(counts)
        order = np.lexsort((ln, val))
        val, ln, c = val[order], ln[order], c[order]
        starts = np.flatnonzero(
            np.concatenate(([True], (val[1:] != val[:-1]) | (ln[1:] != ln[:-1])))
        )
        val, ln, c = val[starts], ln[starts], np.add.reduceat(c, starts)
        gain = np.where(ln > 1, c * (ln - 1), c)
        top = np.lexsort((ln, val, gain))[::-1][:MAX_SYMBOLS]
        packed = val[top].astype(">u8").tobytes()
        table = SymbolTable(
            [packed[8 * i : 8 * i + k] for i, k in enumerate(ln[top].tolist())]
        )
    return table


def _window_keys(arr: np.ndarray) -> np.ndarray:
    """uint64 little-endian 8-byte window starting at each position
    (zero-padded past the end)."""
    n = len(arr)
    k = np.zeros(n, dtype=np.uint64)
    for j in range(min(8, n)):
        k[: n - j] |= arr[j:].astype(np.uint64) << np.uint64(8 * j)
    return k


def encode_with_table(data: bytes, table: SymbolTable) -> bytes:
    """Greedy longest-match encode: C accelerator when available, else the
    vectorized numpy path below. Both implementations are byte-identical
    (tests/test_codecs_binary.py checks it)."""
    from . import native

    out = native.fsst_encode(data, table.symbols) if data else b""
    if out is not None:
        return out
    return encode_with_table_numpy(data, table)


def encode_with_table_numpy(data: bytes, table: SymbolTable) -> bytes:
    """Vectorized greedy longest-match encode.

    1. per position: longest matching symbol via masked-window hash
       lookups (one searchsorted pass per distinct symbol length);
    2. the greedy scan (position -> position + matchlen) resolved by
       pointer-doubling over the jump array — O(n log n) numpy, no
       per-byte Python;
    3. token emission as two vectorized scatters.
    Output is byte-identical to the C accelerator (``native.fsst_encode``).
    """
    n = len(data)
    if n == 0:
        return b""
    if not table.symbols:
        out = bytearray()
        _escape_into(out, data)
        return bytes(out)
    arr = np.frombuffer(data, dtype=np.uint8)
    keys = _window_keys(arr)

    # group symbols by length; longest-match = overwrite in ascending order
    by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for code, s in enumerate(table.symbols):
        v = int.from_bytes(s, "little")
        by_len.setdefault(len(s), ([], []))
        by_len[len(s)][0].append(v)
        by_len[len(s)][1].append(code)

    match_len = np.ones(n, dtype=np.int64)  # default: escape (consumes 1)
    match_code = np.full(n, -1, dtype=np.int64)  # -1 = escape
    for L in sorted(by_len):
        vals = np.array(by_len[L][0], dtype=np.uint64)
        codes = np.array(by_len[L][1], dtype=np.int64)
        order = np.argsort(vals)
        vals, codes = vals[order], codes[order]
        mask = np.uint64((1 << (8 * L)) - 1) if L < 8 else np.uint64(0xFFFFFFFFFFFFFFFF)
        k = keys & mask
        pos = np.searchsorted(vals, k)
        pos[pos == len(vals)] = 0
        hit = vals[pos] == k
        if L > 1:
            hit[n - L + 1 :] = False  # window ran past the end
        match_len[hit] = L
        match_code[hit] = codes[pos[hit]]

    # greedy walk from 0 via pointer doubling: nxt[i] = i + match_len[i]
    nxt = np.minimum(np.arange(n, dtype=np.int64) + match_len, n)
    jump = np.append(nxt, n)  # jump[n] = n (fixpoint)
    chain = np.array([0], dtype=np.int64)
    while chain[-1] < n:
        nxt_chain = jump[chain]
        chain = np.concatenate((chain, nxt_chain))
        jump = jump[jump]
        # keep strictly increasing unique prefix
        stop = np.searchsorted(chain, n, side="left")
        if stop < len(chain):
            chain = chain[: stop + 1]
            if chain[-1] >= n:
                chain = chain[:-1]
                break
    tokens = chain[chain < n]

    codes_t = match_code[tokens]
    is_esc = codes_t < 0
    out_len = len(tokens) + int(is_esc.sum())
    sizes = np.where(is_esc, 2, 1)
    starts = np.zeros(len(tokens), dtype=np.int64)
    np.cumsum(sizes[:-1], out=starts[1:])
    out = np.empty(out_len, dtype=np.uint8)
    out[starts] = np.where(is_esc, ESCAPE, codes_t).astype(np.uint8)
    esc_starts = starts[is_esc]
    out[esc_starts + 1] = arr[tokens[is_esc]]
    return out.tobytes()


def _escape_into(out: bytearray, raw: bytes) -> None:
    # interleave ESCAPE before every literal byte, vectorized
    arr = np.frombuffer(raw, dtype=np.uint8)
    esc = np.empty(2 * len(arr), dtype=np.uint8)
    esc[0::2] = ESCAPE
    esc[1::2] = arr
    out += esc.tobytes()


def decode_with_table(payload: bytes | memoryview, table: SymbolTable) -> bytes:
    codes = np.frombuffer(payload, dtype=np.uint8)
    n = len(codes)
    if n == 0:
        return b""
    # --- escape resolution: within each maximal run of 0xFF bytes that
    # starts at a code position, escapes sit at even offsets. A run always
    # starts at a code position: the byte before it is non-FF, and a
    # non-FF byte is never an escape.
    ff = np.flatnonzero(codes == ESCAPE)
    is_literal = np.zeros(n, dtype=bool)
    if len(ff):
        run_start = np.concatenate(([0], np.flatnonzero(np.diff(ff) > 1) + 1))
        run_start_pos = np.repeat(ff[run_start], np.diff(np.concatenate((run_start, [len(ff)]))))
        esc_pos = ff[(ff - run_start_pos) % 2 == 0]
        if len(esc_pos) and esc_pos[-1] == n - 1:
            raise ValueError("dangling escape at end of FSST payload")
        is_literal[esc_pos + 1] = True
        is_code = ~is_literal
        is_code[esc_pos] = False
    else:
        is_code = ~is_literal

    # --- unified blob: symbols then the 256 literal bytes
    sym_lens = np.fromiter((len(s) for s in table.symbols), dtype=np.int64, count=len(table.symbols))
    entry_lens = np.concatenate((sym_lens, np.ones(256, dtype=np.int64)))
    entry_starts = np.zeros(len(entry_lens) + 1, dtype=np.int64)
    np.cumsum(entry_lens, out=entry_starts[1:])
    blob = np.frombuffer(b"".join(table.symbols) + bytes(range(256)), dtype=np.uint8)

    token_pos = np.flatnonzero(is_code | is_literal)
    entries = codes[token_pos].astype(np.int64)
    entries = np.where(is_literal[token_pos], entries + len(table.symbols), entries)
    if len(table.symbols) and (codes[is_code] >= len(table.symbols)).any():
        raise ValueError("code out of symbol-table range")

    lens = entry_lens[entries]
    starts = entry_starts[entries]
    total = int(lens.sum())
    pos0 = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=pos0[1:])
    take = np.repeat(starts, lens) + (np.arange(total) - np.repeat(pos0[:-1], lens))
    return blob[take].tobytes()


def encode(data: bytes, sample: bytes | None = None, sample_cap: int = DEFAULT_SAMPLE) -> bytes:
    """Self-contained blob: symbol table + decoded size + escaped payload."""
    table = train(sample if sample is not None else data[:sample_cap])
    payload = encode_with_table(data, table)
    return (
        table.serialize()
        + uleb128_encode(len(data))
        + uleb128_encode(len(payload))
        + payload
    )


def decode(buf: bytes | memoryview) -> bytes:
    buf = memoryview(buf)
    table, pos = SymbolTable.deserialize(buf)
    raw_len, pos = uleb128_decode(buf, pos)
    plen, pos = uleb128_decode(buf, pos)
    payload = buf[pos : pos + plen]
    from . import native

    out = native.fsst_decode(bytes(payload), table.symbols, raw_len)
    if out is not None:
        return out
    return decode_with_table(payload, table)
