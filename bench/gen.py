"""Seeded input generator for the graft benchmark.

Every input the benchmark feeds the program is made here, from the
workload seed alone: the same seed gives byte-identical files.

* ``chain(...)`` makes raw Bitcoin-like blocks (raw script bytes only,
  nothing decoded) in the shape of the main chain early in 2015: about
  500 transactions in a block, a heavy tail of bigger blocks, 1-3
  inputs and outputs per transaction, P2PKH / P2SH / coinbase scripts,
  ~1% truncated scripts, ~3% empty blocks, null satoshis, chain work
  that overflows the terahash column, and ~10% of blocks delivered a
  second time in a later delivery (at-least-once). README.md lists where
  each figure comes from and which are assumptions.
* ``tables(...)`` makes the star-schema tables the analyst queries read
  (the shape of the repository's test tables, at a small scale).

Each writer returns a manifest of what it wrote; ``write_workload``
stores it as ``manifest.json`` next to the files.
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BLOCK_SECONDS = 600  # one block every 10 minutes of chain time
BLOCKS_PER_HOUR = 3600 // BLOCK_SECONDS
CHAIN_START_MS = 1420070400000  # 2015-01-01T00:00:00Z

IN_T = pa.struct([("script", pa.binary()), ("sequence", pa.int64()),
                  ("coinbase", pa.bool_())])
OUT_T = pa.struct([("satoshis", pa.int64()), ("script", pa.binary())])
TX_T = pa.struct([("transaction_id", pa.string()),
                  ("inputs", pa.list_(IN_T)), ("outputs", pa.list_(OUT_T))])
RAW_SCHEMA = pa.schema([
    ("block_id", pa.string()), ("previous_block", pa.string()),
    ("merkle_root", pa.string()), ("timestamp", pa.int64()),
    ("difficultyTarget", pa.int64()), ("nonce", pa.int64()),
    ("version", pa.int64()), ("chain_work", pa.string()),
    ("transactions", pa.list_(TX_T)),
    # index of the delivery (batch or chain-hour file) the row arrives in
    ("delivery", pa.int32())])

# Shape of a block (sources and assumptions in README.md, "Input shape").
TX_PER_BLOCK = 500      # mean transactions of a non-empty block
PARETO_SHAPE = 1.8      # tail of the transactions-per-block profile
EMPTY_FRAC = 0.03       # blocks with no transaction at all
TRUNCATED_FRAC = 0.01   # scripts cut inside a push
NULL_SATOSHIS_FRAC = 0.005
WORK_OVERFLOW_FRAC = 0.02
P2SH_IN_FRAC = 0.10     # of the non-coinbase inputs
P2SH_OUT_FRAC = 0.10
DUP_FRAC = 0.10         # blocks delivered a second time

# Workload sizes. A round of block_etl hands over ETL_BATCHES arrival
# batches of one chain-hour each; the stream replays STREAM_HOURS
# chain-hours, one file each.
ETL_BATCHES = 3
STREAM_HOURS = 12
TABLE_SCALE = 0.5  # 1.0 ~ 15k orders / 60k lineitems

# Script kinds and their byte templates: None is a random byte, "pub" a
# compressed-pubkey prefix (0x02 or 0x03). `at` is the offset of the
# first push opcode, `pay` the length of its payload (a truncated script
# is cut inside that payload, so the decoder must report an error).
COINBASE, P2PKH_IN, P2SH_IN, P2PKH_OUT, P2SH_OUT = range(5)
_R = [None]
TEMPLATES = {
    # height push + extranonce push: free-form data
    COINBASE: ([3] + _R * 3 + [8] + _R * 8, 0, 3),
    # signature push + compressed-pubkey push
    P2PKH_IN: ([71] + _R * 71 + [33, "pub"] + _R * 32, 0, 71),
    # OP_0 <sig> <2-of-2 redeem script>
    P2SH_IN: ([0x00, 71] + _R * 71 + [71, 0x52, 33, 0x02] + _R * 32 +
              [33, 0x03] + _R * 32 + [0x52, 0xae], 1, 71),
    # DUP HASH160 <20> EQUALVERIFY CHECKSIG
    P2PKH_OUT: ([0x76, 0xa9, 20] + _R * 20 + [0x88, 0xac], 2, 20),
    # HASH160 <20> EQUAL
    P2SH_OUT: ([0xa9, 20] + _R * 20 + [0x87], 1, 20),
}
WIDTH = max(len(t) for t, _, _ in TEMPLATES.values())


def _scripts(rng, kinds):
    """Script bytes for an array of kinds: (BinaryArray, truncated mask)."""
    n = len(kinds)
    mat = rng.integers(0, 256, size=(n, WIDTH), dtype=np.uint8)
    length = np.zeros(n, dtype=np.int64)
    cut = np.zeros(n, dtype=np.int64)
    for kind, (tmpl, at, pay) in TEMPLATES.items():
        rows = np.flatnonzero(kinds == kind)
        length[rows] = len(tmpl)
        cut[rows] = at + 1 + rng.integers(0, pay, len(rows))
        for j, v in enumerate(tmpl):
            if v == "pub":
                mat[rows, j] = 2 + (mat[rows, j] & 1)
            elif v is not None:
                mat[rows, j] = v
    truncated = rng.random(n) < TRUNCATED_FRAC
    length = np.where(truncated, cut, length)
    data = mat[np.arange(WIDTH)[None, :] < length[:, None]]
    offsets = np.concatenate([[0], np.cumsum(length)]).astype(np.int32)
    arr = pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets),
                                                 pa.py_buffer(data.tobytes())])
    return arr, truncated


def _hexes(rng, n):
    """`n` random 32-byte hashes as hex strings."""
    h = rng.integers(0, 256, size=(n, 32), dtype=np.uint8).tobytes().hex()
    return [h[64 * i:64 * (i + 1)] for i in range(n)]


def _profile(live, total):
    """Transactions of `live` non-empty blocks: Pareto quantiles summing to
    exactly `total`."""
    w = (1.0 - (np.arange(live) + 0.5) / live) ** (-1 / PARETO_SHAPE)
    prof = 1 + np.floor(w / w.sum() * (total - live)).astype(np.int64)
    prof[:total - int(prof.sum())] += 1
    return prof


def _tx_counts(rng, n_blocks, group):
    """Heavy-tailed transactions per block: one fixed profile per group of
    `group` consecutive blocks (a delivery), shuffled within the group.
    The empty blocks sit in evenly spaced groups. A seed moves the big
    blocks around; it does not change how many there are or how much
    work a group holds."""
    groups = (n_blocks + group - 1) // group
    n_empty = max(1, int(round(EMPTY_FRAC * n_blocks)))
    with_empty = set(np.linspace(0, groups - 1, n_empty).round().astype(int).tolist())
    counts = []
    for g in range(groups):
        size = min(group, n_blocks - g * group)
        live = size - (g in with_empty)
        prof = np.concatenate([np.zeros(size - live, dtype=np.int64),
                               _profile(live, TX_PER_BLOCK * live)])
        counts.append(rng.permutation(prof))
    counts = np.concatenate(counts)
    return counts, counts == 0


def _list(offsets, values, typ):
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values, type=typ)


def chain(seed, n_blocks, deliveries, max_dup_delay=1):
    """Raw blocks plus their at-least-once re-deliveries.

    Block i arrives in delivery i // (n_blocks / deliveries). DUP_FRAC of
    all blocks, spread evenly over the deliveries that have a later one
    and taken at evenly spaced sizes (so every seed re-delivers the same
    amount of work), arrive again 1 to `max_dup_delay` deliveries later.
    Returns (table, manifest)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    group = n_blocks // deliveries
    counts, empty = _tx_counts(rng, n_blocks, group)
    n_tx = int(counts.sum())
    tx_block = np.repeat(np.arange(n_blocks), counts)
    tx_first = np.concatenate([[0], np.cumsum(counts)])
    coinbase_tx = np.zeros(n_tx, dtype=bool)
    coinbase_tx[tx_first[:-1][counts > 0]] = True

    # inputs: one coinbase input for a block's first transaction, 1-3
    # P2PKH / P2SH spends for the others
    n_in = np.where(coinbase_tx, 1, rng.integers(1, 4, n_tx))
    in_tx = np.repeat(np.arange(n_tx), n_in)
    in_cb = coinbase_tx[in_tx]
    in_kind = np.where(in_cb, COINBASE,
                       np.where(rng.random(len(in_tx)) < P2SH_IN_FRAC, P2SH_IN, P2PKH_IN))
    in_script, in_trunc = _scripts(rng, in_kind)
    in_seq = np.where(in_cb, 4294967295, rng.integers(0, 4294967295, len(in_tx)))
    n_out = rng.integers(1, 4, n_tx)
    out_tx = np.repeat(np.arange(n_tx), n_out)
    out_kind = np.where(rng.random(len(out_tx)) < P2SH_OUT_FRAC, P2SH_OUT, P2PKH_OUT)
    out_script, out_trunc = _scripts(rng, out_kind)
    sat = rng.integers(546, 5_000_000_000, len(out_tx))
    sat_null = rng.random(len(out_tx)) < NULL_SATOSHIS_FRAC
    tx_ids = _hexes(rng, n_tx)

    inputs = pa.StructArray.from_arrays(
        [in_script, pa.array(in_seq, pa.int64()), pa.array(in_cb)], fields=list(IN_T))
    outputs = pa.StructArray.from_arrays(
        [pa.array(sat, pa.int64(), mask=sat_null), out_script], fields=list(OUT_T))
    txs = pa.StructArray.from_arrays(
        [pa.array(tx_ids, pa.string()),
         _list(np.concatenate([[0], np.cumsum(n_in)]), inputs, pa.list_(IN_T)),
         _list(np.concatenate([[0], np.cumsum(n_out)]), outputs, pa.list_(OUT_T))],
        fields=list(TX_T))

    # block headers; the first ~2% of a shuffled order report chain work
    # past the terahash column's range
    work = np.cumsum(rng.integers(1 << 40, 1 << 41, n_blocks))
    overflow = np.zeros(n_blocks, dtype=bool)
    overflow[rng.permutation(n_blocks)[:max(1, int(round(WORK_OVERFLOW_FRAC * n_blocks)))]] = True
    block_ids = _hexes(rng, n_blocks)
    nonces = rng.integers(0, 1 << 32, n_blocks)
    versions = rng.choice([2, 3], n_blocks)
    blocks = pa.table({
        "block_id": pa.array(block_ids, pa.string()),
        "previous_block": pa.array(["00" * 32] + block_ids[:-1], pa.string()),
        "merkle_root": pa.array([hashlib.sha256("".join(
            tx_ids[tx_first[i]:tx_first[i + 1]]).encode()).hexdigest()
            for i in range(n_blocks)], pa.string()),
        "timestamp": pa.array(CHAIN_START_MS + np.arange(n_blocks) * BLOCK_SECONDS * 1000,
                              pa.int64()),
        "difficultyTarget": pa.array(np.full(n_blocks, 404172480), pa.int64()),
        "nonce": pa.array(nonces, pa.int64()),
        "version": pa.array(versions, pa.int64()),
        "chain_work": pa.array([str((1 << 64) + int(w) + ((1 << 100) if o else 0))
                                for w, o in zip(work, overflow)], pa.string()),
        "transactions": _list(tx_first, txs, pa.list_(TX_T))})

    # at-least-once: re-deliver DUP_FRAC of the blocks, spread evenly over
    # the deliveries that have a later one
    first = np.minimum(np.arange(n_blocks) // group, deliveries - 1)
    eligible = [d for d in range(deliveries) if d < deliveries - 1]
    n_dup = int(round(DUP_FRAC * n_blocks))
    dup_block, dup_to = [], []
    for j, d in enumerate(eligible):
        k = (j + 1) * n_dup // len(eligible) - j * n_dup // len(eligible)
        cand = np.flatnonzero(first == d)
        by_size = cand[np.lexsort((rng.random(len(cand)), counts[cand]))]
        for r in ((np.arange(k) + 0.5) / k * len(by_size)).astype(int):
            hi = min(deliveries - 1, d + max_dup_delay)
            dup_block.append(int(by_size[r]))
            dup_to.append(int(rng.integers(d + 1, hi + 1)))
    row_block = np.concatenate([np.arange(n_blocks), np.array(dup_block, dtype=np.int64)])
    row_delivery = np.concatenate([first, np.array(dup_to, dtype=np.int64)])
    order = np.argsort(row_delivery, kind="stable")  # stable: chain order
    row_block, row_delivery = row_block[order], row_delivery[order]
    table = blocks.take(pa.array(row_block)).append_column(
        "delivery", pa.array(row_delivery, pa.int32()))
    assert table.schema.equals(RAW_SCHEMA)

    # counts of what was written, per block and per delivery
    scripts = np.bincount(tx_block, weights=n_in + n_out, minlength=n_blocks).astype(np.int64)
    trunc = (np.bincount(tx_block[in_tx[in_trunc]], minlength=n_blocks) +
             np.bincount(tx_block[out_tx[out_trunc]], minlength=n_blocks))
    is_new = np.zeros(len(row_block), dtype=bool)
    _, first_row = np.unique(row_block, return_index=True)
    is_new[first_row] = True

    def per_delivery(values, mask=None):
        w = values[row_block] if mask is None else values[row_block] * mask
        return np.bincount(row_delivery, weights=w, minlength=deliveries).astype(np.int64)

    ones = np.ones(n_blocks, dtype=np.int64)
    cols = {"rows": per_delivery(ones), "transactions": per_delivery(counts),
            "new_blocks": per_delivery(ones, is_new),
            "new_transactions": per_delivery(counts, is_new),
            "scripts": per_delivery(scripts), "truncated_scripts": per_delivery(trunc)}
    per = [{k: int(v[d]) for k, v in cols.items()} for d in range(deliveries)]
    manifest = {
        "blocks": n_blocks, "duplicates": len(dup_block), "empty_blocks": int(empty.sum()),
        "transactions": n_tx,
        "transactions_delivered": int(counts[row_block].sum()),
        "scripts": int(scripts.sum()), "truncated_scripts": int(trunc.sum()),
        "scripts_delivered": int(cols["scripts"].sum()),
        "truncated_delivered": int(cols["truncated_scripts"].sum()),
        "null_satoshis": int(sat_null.sum()), "work_overflow": int(overflow.sum()),
        "p2sh_outputs": int((out_kind == P2SH_OUT).sum()),
        "deliveries": per}
    return table, manifest


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def write_blocks(seed, out):
    """block_etl input: one parquet file per arrival batch (one
    chain-hour); a re-delivered block arrives again in the next batch."""
    table, man = chain(seed, ETL_BATCHES * BLOCKS_PER_HOUR, ETL_BATCHES)
    delivery = table.column("delivery").to_numpy()
    for k in range(ETL_BATCHES):
        _write(table.filter(pa.array(delivery == k)), os.path.join(out, f"batch_{k:03d}.parquet"))
    return man


def write_stream(seed, out):
    """stream_ingest input: the raw chain with one delivery per chain-hour
    (a re-delivered block arrives again 1-6 hours later); the benchmark
    converts it and splits it into one file per hour."""
    table, man = chain(seed, STREAM_HOURS * BLOCKS_PER_HOUR, STREAM_HOURS, max_dup_delay=6)
    _write(table, os.path.join(out, "stream_raw.parquet"))
    return man


WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small big data column query order "
         "customer stream filter group vector").split()


def tables(seed, scale=TABLE_SCALE):
    """Star-schema tables in the shape of the repository's test data."""
    rng = np.random.Generator(np.random.PCG64(seed ^ 0x5EED))
    n_cust, n_supp, n_part = int(1500 * scale), max(25, int(100 * scale)), int(2000 * scale)
    n_ord, n_ev, n_users = int(15000 * scale), int(10000 * scale), max(10, int(150 * scale))
    n_doc, n_emb = int(500 * scale), int(500 * scale)
    day_us = 86400 * 1_000_000
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999, 9999, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "hot", "old"], n_part),
            rng.choice(["ring", "widget", "bolt", "gear", "gizmo"], n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    o_date = np.datetime64("1995-01-01", "us").astype(np.int64) + \
        rng.integers(0, 2404, n_ord) * day_us
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ord)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(np.repeat(o_date, lines) +
                               rng.integers(1, 122, n_li) * day_us, pa.timestamp("us"))})
    ev_ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.sort(
        rng.integers(0, 30 * day_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": money(0, 50, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # every 20th document copies an earlier one exactly, every 10th (other)
    # one copies an earlier one with two words replaced
    docs = []
    for i in range(n_doc):
        if i and i % 20 == 0:
            docs.append(docs[int(rng.integers(0, i))])
        elif i and i % 10 == 0:
            words = docs[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            docs.append(" ".join(words))
        else:
            docs.append(" ".join(rng.choice(WORDS, 20 + i % 70)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": docs,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.1, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write_tables(seed, out):
    counts = {}
    for name, table in tables(seed).items():
        _write(table, os.path.join(out, f"{name}.parquet"))
        counts[name] = table.num_rows
    return {"rows": counts}


WRITERS = {"block_etl": write_blocks, "stream_ingest": write_stream,
           "analyst_mix": write_tables}


def write_workload(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    man = WRITERS[workload](seed, out)
    man.update(workload=workload, seed=seed)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    return man


def digest(path):
    """sha256 over every file under `path` (names and bytes)."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
