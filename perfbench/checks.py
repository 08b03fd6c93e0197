"""Output checks, run after the timed region. Each returns the ids of the
operations whose output is wrong, plus messages."""
import csv
import glob
import os

import duckdb
import pyarrow.parquet as pq

from metrics import fingerprint, screen_reference


def _parquet_files(root):
    """Data files under `root`, skipping hidden and underscore entries the
    way Spark's readers do (swap temporaries, _SUCCESS, .crc)."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(dirpath, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return sorted(out)


def _column(root, name):
    ids = []
    for f in _parquet_files(root):
        ids += pq.read_table(f, columns=[name]).column(0).to_pylist()
    return ids


def _duckdb():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def etl(work, expected, ops, n_entities, landed):
    """Each measured snapshot's CSV must match the generator's rows, the
    latest pick must be the snapshot just landed, and the warehouse must
    hold every landed entity once per landing."""
    bad, msgs = set(), []
    for o in ops:
        rows = []
        for f in sorted(glob.glob(f"{work}/csv/snapshot={o['ts']}/part-*.csv")):
            with open(f, newline="") as fh:
                rows += list(csv.reader(fh))[1:]
        fp = fingerprint(list(range(15)), rows)
        if fp != expected[o["pool"]] or not o["picked_latest"]:
            bad.add(o["op"])
            msgs.append(f"snapshot {o['ts']}: got {fp[0]} rows, fingerprint mismatch or wrong pick")
        k = int(o["ts"].split("_")[1])
        if o["warehouse_rows"] != n_entities * (k + 1):
            bad.add(o["op"])
            msgs.append(f"snapshot {o['ts']}: warehouse read back {o['warehouse_rows']} rows")
    total = sum(pq.read_metadata(f).num_rows for f in _parquet_files(f"{work}/warehouse/courses"))
    if total != n_entities * landed:
        bad.update(o["op"] for o in ops)
        msgs.append(f"warehouse holds {total} rows, expected {n_entities * landed}")
    return bad, msgs


def corpus(work, indir, oracle_sql, ops):
    """The materialized doc_id set must equal the corpus_keep oracle's
    kept set, replayed in DuckDB on the generated documents."""
    con = _duckdb()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{indir}/corpus/documents.parquet')")
    keep = {r[0] for r in con.execute(f"SELECT doc_id FROM ({oracle_sql}) WHERE keep").fetchall()}
    n_docs = con.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    got = _column(f"{work}/corpus_out", "doc_id")
    bad, msgs = set(), []
    if sorted(got) != sorted(keep):
        bad.update(o["op"] for o in ops)
        msgs.append(f"corpus holds {len(got)} docs, oracle keeps {len(keep)}")
    for o in ops:
        if (o["docs_in"], o["docs_kept"]) != (n_docs, len(keep)):
            bad.add(o["op"])
            msgs.append(f"materialization {o['op']}: {o['docs_in']} in, {o['docs_kept']} kept")
    return bad, msgs


def seats(work, indir, oracles, ops):
    """Each SparkEntry seat's result (kept from the last warm-up pass; the
    timed passes write to the noop sink) must have the fingerprint of its
    DuckDB oracle, replayed on the same documents."""
    con = _duckdb()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{indir}/corpus/documents.parquet')")
    msgs = []
    for name, sql in sorted(oracles.items()):
        files = _parquet_files(f"{work}/seat_out/{name}")
        cols = pq.read_schema(files[0]).names if files else []
        rows = [tuple(r) for f in files for r in zip(*pq.read_table(f).to_pydict().values())]
        cur = con.execute(sql)
        want_cols = [d[0] for d in cur.description]
        want = fingerprint(want_cols, cur.fetchall())
        if sorted(cols) != sorted(want_cols) or fingerprint(cols, rows) != want:
            msgs.append(f"seat {name}: {len(rows)} rows {sorted(cols)} differ from the oracle's "
                        f"{want[0]} rows {sorted(want_cols)}")
    return ({o["op"] for o in ops} if msgs else set()), msgs


def ingest(state, drops, exact_ids, pairs_sql, ops):
    """Streamed near-dedup over the landed drops, one drop per batch:
    corpus and quarantine must partition the arrived docs, no doc may be
    kept twice, every exact copy of a kept doc must be quarantined, and
    the quarantine (doc and partner) must equal the reference outcome
    built from the `dedup_minhash` oracle's verified pairs over every
    arrived doc. Returns (bad op ids, messages, quarantined share)."""
    con = _duckdb()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({list(drops)})")
    batches = [pq.read_table(f, columns=["doc_id"]).column(0).to_pylist() for f in drops]
    batch_of = {i: b for b, ids in enumerate(batches) for i in ids}
    kept = _column(f"{state}/corpus", "doc_id")
    tabs = [pq.read_table(f, columns=["doc_id", "dup_of"]).to_pydict() for f in _parquet_files(f"{state}/dups")]
    dups = {i: o for t in tabs for i, o in zip(t["doc_id"], t["dup_of"])}
    n_dup_rows = sum(len(t["doc_id"]) for t in tabs)

    wrong, msgs = set(), []
    if len(kept) != len(set(kept)) or n_dup_rows != len(dups):
        msgs.append(f"{len(kept) - len(set(kept))} docs kept twice, {n_dup_rows - len(dups)} quarantined twice")
    both = set(kept) & set(dups)
    lost = set(batch_of) - set(kept) - set(dups)
    extra = (set(kept) | set(dups)) - set(batch_of)
    if both or lost or extra:
        wrong |= both | lost
        msgs.append(f"corpus and quarantine do not partition the arrived docs: {len(both)} in both, "
                    f"{len(lost)} in neither, {len(extra)} never arrived")
    text = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    first_kept = {}
    for i in sorted(set(kept) & set(text)):
        first_kept.setdefault(text[i], i)
    missed = [i for i in exact_ids if i in batch_of and first_kept.get(text[i], i) < i and i not in dups]
    if missed:
        wrong |= set(missed)
        msgs.append(f"{len(missed)} exact copies of kept docs were not quarantined, e.g. {missed[:5]}")
    pairs = con.execute(f"SELECT doc_a, doc_b FROM ({pairs_sql})").fetchall()
    want, _ = screen_reference(batches, pairs)
    diff = {i for i in set(want) | set(dups) if want.get(i) != dups.get(i)}
    if diff:
        wrong |= diff
        ex = sorted(diff)[:5]
        msgs.append(f"{len(diff)} docs differ from the reference quarantine, e.g. "
                    + ", ".join(f"{i}: got {dups.get(i)} want {want.get(i)}" for i in ex))
    # state carries forward: a wrong batch makes every later batch suspect
    first_bad = min((batch_of[i] for i in wrong if i in batch_of), default=len(batches) if not msgs else 0)
    bad = {o["op"] for o in ops if o["batch"] >= first_bad}
    return bad, msgs, len(dups) / max(1, len(batch_of))
