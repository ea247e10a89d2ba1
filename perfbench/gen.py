"""Seeded input generator.

Writes an sf-dir holding the five parquet tables the genomics plans read
(`lineitem`, `nation`, `region`, `part`, `orders`) with the same column
names and types as the sf test data (TESTDATA.md), so `sources.catalog.load_table`
and `sources.fixtures` read it unchanged; and a directory of gzipped
FASTQ chunks, one of them deliberately truncated.

The same seed gives byte-identical files: every value comes from one
`numpy.random.Generator`, parquet is written with fixed settings, and
gzip headers carry mtime 0.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixtures.alignments: pos = (37*l_orderkey + 101*l_linenumber) mod 1e6 + 1,
# chr_index = l_partkey mod 25; fixtures.sequence_dict: region_size =
# 20000 + 1000*chr_index.
POS_MOD = 1_000_000
INV37 = pow(37, -1, POS_MOD)
N_CHR = 25
N_PARTS = 20_000
# The planted hotspot. operators.skew marks a (chr, reg) bin heavy above
# 2x the mean bin and splits it into up to 32 segments, a cap reached at
# ~8x the mean. There are 837 bins, and each planted bin holds ~84x the
# mean bin, so all three are split to the cap (96 groups), and 30% of the
# reads take the split path. The share is not a straggling
# threshold, because none exists at this size: measured on a 4-vCPU host,
# no share up to 0.7 in one bin made the transform stage straggle even
# with the skew pre-pass off (slowest task <= 1.2x the median, stage no
# slower than on uniform input); per-task and per-group costs outweigh
# per-read work there.
HOT_REGIONS = 3
HOT_SHARE = 0.30
HOT_WIDTH = 19_999  # < the narrowest bin (region_size of chr 0)

REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["large", "small", "hot", "cold", "ring", "bolt", "gear", "plate"]
PART_TYPES = ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"]
_EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00 in microseconds
_DAY_US = 86_400_000_000


def region_size(chr_index):
    return 20_000 + 1_000 * chr_index


def _write(table: pa.Table, path: str) -> None:
    # one row group, like the sf test data the plans were tuned on
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 3_600, size=n, dtype=np.int64)
    return pa.array(_EPOCH_1992_US + days * _DAY_US, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pa.array(words).take(pa.array(rng.integers(0, len(words), n)))


def _uniform_reads(rng: np.random.Generator, n: int, n_orders: int):
    """(l_orderkey, l_linenumber) of `n` reads: orders 0.. with 1-7 lines
    each, truncated to exactly `n` rows. Keys are unique by construction."""
    lines = rng.integers(1, 8, size=n_orders)
    cum = np.cumsum(lines)
    if cum[-1] < n:
        raise ValueError(f"{n_orders} orders cannot hold {n} reads")
    k = int(np.searchsorted(cum, n))
    lines = lines[: k + 1].copy()
    lines[k] -= int(cum[k]) - n
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ok = np.repeat(np.arange(k + 1, dtype=np.int64), lines)
    ln = (np.arange(n, dtype=np.int64) - starts + 1).astype(np.int32)
    return ok, ln


def _hot_reads(rng: np.random.Generator, n: int):
    """(l_orderkey, l_linenumber, chr_index, hot regions) of `n` reads
    planted in HOT_REGIONS (chr, reg) bins. Each read picks a position in
    its bin and solves pos-1 = 37*ok + 101*ln (mod 1e6) for ok (37 is
    invertible mod 1e6); adding (i+1)*1e6 keeps every key unique and
    clear of the uniform reads' orderkeys (< 1e6)."""
    chrs = rng.choice(N_CHR, size=HOT_REGIONS, replace=False)
    regions = []
    for c in chrs:
        regions.append((int(c), int(rng.integers(0, (POS_MOD - 1) // region_size(int(c))))))
    which = rng.integers(0, HOT_REGIONS, size=n)
    chr_idx = np.array([r[0] for r in regions], dtype=np.int64)[which]
    reg = np.array([r[1] for r in regions], dtype=np.int64)[which]
    # a fixed-width window at the start of each bin, so the hot reads'
    # density, and with it the work per hot group, is the same for every seed
    pos = reg * region_size(chr_idx) + 1 + rng.integers(0, HOT_WIDTH, size=n)
    ln = rng.integers(1, 8, size=n).astype(np.int64)
    ok = ((pos - 1 - 101 * ln) * INV37) % POS_MOD
    ok += POS_MOD * (np.arange(n, dtype=np.int64) + 1)
    return ok, ln.astype(np.int32), chr_idx, sorted(regions)


def write_tables(out_dir: str, seed: int, n_reads: int, hotspot: bool) -> dict:
    """Write the five tables into `out_dir`; return a manifest of what
    was planted (row counts, hot regions, file sizes)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(hotspot)])
    # 1-7 lines per order (mean 4); 4% spare orders so the reads always fit
    n_orders = n_reads // 4 + n_reads // 100
    n_hot = int(n_reads * HOT_SHARE) if hotspot else 0
    ok, ln = _uniform_reads(rng, n_reads - n_hot, n_orders)
    partkey = rng.integers(0, N_PARTS, size=len(ok), dtype=np.int64)
    hot = []
    if n_hot:
        hok, hln, hchr, hot = _hot_reads(rng, n_hot)
        hpart = N_CHR * rng.integers(0, N_PARTS // N_CHR, size=n_hot) + hchr
        ok = np.concatenate([ok, hok])
        ln = np.concatenate([ln, hln])
        partkey = np.concatenate([partkey, hpart])
    order = rng.permutation(n_reads)
    ok, ln, partkey = ok[order], ln[order], partkey[order]

    lineitem = pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_reads), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_reads).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n_reads) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_reads) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_reads) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_reads),
        "l_linestatus": _pick(rng, ["F", "O"], n_reads),
        "l_shipdate": _dates(rng, n_reads),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(N_CHR), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(N_CHR)]),
        "n_regionkey": pa.array(np.arange(N_CHR) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGION_NAMES),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_name": _pick(rng, [f"{a} {b}" for a in PART_WORDS for b in PART_WORDS], N_PARTS),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], N_PARTS),
        "p_type": _pick(rng, PART_TYPES, N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(N_PARTS) % 1_000) / 10.0),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_orders) / 100.0),
        "o_orderdate": _dates(rng, n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    tables = {"lineitem": lineitem, "nation": nation, "region": region,
              "part": part, "orders": orders}
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(t, path)
        sizes[name] = os.path.getsize(path)
    return {
        "rows": {name: t.num_rows for name, t in tables.items()},
        "bytes": sizes,
        "hot_regions": hot,
    }


def write_fastq(out_dir: str, seed: int, n_chunks: int, reads_per_chunk: int) -> dict:
    """Write `n_chunks` gzipped FASTQ chunks; the last one is truncated
    mid-stream, so a tolerant parser must skip it. Returns the closed-form
    answer for the readable chunks, {chunk: (reads, bases)}, plus the name
    of the corrupt chunk and the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    bases = np.frombuffer(b"ACGT", dtype=np.uint8)
    expected: dict[str, tuple[int, int]] = {}
    total = 0
    corrupt = f"chunk_{n_chunks - 1:03d}.fq.gz"
    for c in range(n_chunks):
        name = f"chunk_{c:03d}.fq.gz"
        lens = rng.integers(50, 151, size=reads_per_chunk)
        seq = bases[rng.integers(0, 4, size=int(lens.sum()))].tobytes()
        qual = (rng.integers(33, 75, size=int(lens.sum()), dtype=np.uint8)).tobytes()
        out, off = [], 0
        for i, n in enumerate(lens.tolist()):
            out.append(b"@c%d_r%d\n%s\n+\n%s\n" % (c, i, seq[off:off + n], qual[off:off + n]))
            off += n
        data = gzip.compress(b"".join(out), compresslevel=1, mtime=0)
        if name == corrupt:
            data = data[: len(data) // 2]
        else:
            expected[name] = (reads_per_chunk, int(lens.sum()))
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        total += len(data)
    return {"expected": expected, "corrupt": corrupt, "bytes": total,
            "chunks": n_chunks}
