"""Seeded benchmark inputs and the per-seed reference answers.

Everything here runs before the Spark session starts (or after the timed
window), so none of it is billed to any metric. Inputs and reference
answers are cached on disk per (kind, seed, size), so a repeated seed skips
generation; the cache key carries ``INPUT_VERSION`` so a change to a
generator invalidates old entries.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import sys

INPUT_VERSION = 2

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def cache_dir(work: str, kind: str, seed: int, size: str) -> str:
    return os.path.join(work, "inputs", f"{kind}-v{INPUT_VERSION}-{size}-s{seed}")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w", encoding="utf-8") as f:
        f.write("ok\n")


# -- registry fixtures ------------------------------------------------------

def fixture(work: str, seed: int, sf: float) -> str:
    """``tools/gen_fixtures.generate(sf, dir, seed)`` into the cache."""
    out = cache_dir(work, "fixture", seed, f"sf{sf:g}")
    if not _done(out):
        import gen_fixtures

        # the generator reports row counts on stdout, which is reserved
        # for the benchmark's result line
        with contextlib.redirect_stdout(sys.stderr):
            gen_fixtures.generate(sf, out, seed=seed)
        _mark_done(out)
    return out


def cells(cols, rows) -> list[list]:
    """A result as sorted rows of ``[text, fractional]`` cells, columns in
    name order; ``text`` is the canonical text the result digest hashes."""
    from decimal import Decimal

    from result_digest import canon_value

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [[[canon_value(r[i]), isinstance(r[i], (float, Decimal))]
            for i in order] for r in rows]

    def key(row):
        exact = [c[0] for c in row if not c[1]]
        frac = [float(c[0]) for c in row if c[1] and c[0] != "\\N"]
        return exact, frac

    return sorted(out, key=key)


def same_rows(got: list, want: list) -> bool:
    """Whether two ``cells`` results agree up to a flip of the last printed
    digit of a fractional value: Spark and DuckDB sum in different orders,
    so a value rounded at a half (284823.595 to two places) can land on
    either side of it. Anything else must match exactly."""
    from decimal import Decimal, InvalidOperation

    def same(a, b):
        if a[0] == b[0]:
            return True
        if not (a[1] or b[1]):
            return False
        try:
            x, y = Decimal(a[0]), Decimal(b[0])
        except InvalidOperation:
            return False
        step = Decimal(10) ** min(x.as_tuple().exponent, y.as_tuple().exponent)
        return step < 1 and abs(x - y) <= step

    return len(got) == len(want) and all(
        len(g) == len(w) and all(map(same, g, w)) for g, w in zip(got, want))


def oracle_results(sf_dir: str, names: list[str]) -> dict[str, dict | None]:
    """DuckDB oracle result per registry query, as ``{"digest", "cells"}``
    (None: rows-only query), computed once per fixture and cached beside
    it."""
    path = os.path.join(sf_dir, "_oracle.json")
    cached: dict = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            cached = json.load(f)
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb
        from result_digest import frame_digest

        from hierarchical_graph_db_spark.queries import load

        registry = load()
        con = duckdb.connect()
        con.execute("SET threads=2")
        try:
            for t in TABLES:
                p = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            for n in missing:
                sql = registry[n].oracle
                if sql is None:
                    cached[n] = None
                    continue
                rel = con.sql(sql)
                rows = rel.fetchall()
                cached[n] = {"digest": frame_digest(rel.columns, rows),
                             "cells": cells(rel.columns, rows)}
        finally:
            con.close()
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(cached, f)
        os.replace(tmp, path)
    return {n: cached[n] for n in names}


# -- email corpus (ingest) --------------------------------------------------

_WORDS = ("meeting budget forecast gas power trading contract deal desk "
          "schedule review draft update call report pipeline capacity "
          "price volume risk credit legal memo agenda notes revised "
          "attached please confirm thanks regards team weekly").split()
_USERS = [f"user{i:02d}" for i in range(24)]
_FOLDERS = ["inbox", "sent", "archive", "projects", "deleted"]
_DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]


def _expected_key(msg: dict) -> str:
    """The reference's dedup key: the Message-ID, else ``hash_`` + sha256
    of the canonical JSON of {from, to, date, subject, body[:2000]}. Written
    here from the reference contract, not imported, so the ingest check is
    independent of the parser under test."""
    if msg["message_id"]:
        return msg["message_id"]
    payload = {"from": msg["from"], "to": msg["to"], "date": msg["iso_date"],
               "subject": msg["subject"], "body": msg["body"][:2000]}
    blob = json.dumps(payload, sort_keys=True, ensure_ascii=False)
    return "hash_" + hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _new_message(rng: random.Random, seed: int, i: int) -> dict:
    import datetime as dt

    d = dt.datetime(2001, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        minutes=rng.randrange(365 * 24 * 60))
    frm = f"{rng.choice(_USERS)}@enron.example"
    to = sorted({f"{rng.choice(_USERS)}@enron.example"
                 for _ in range(rng.randint(1, 3))})
    body = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(30, 160)))
    # about one message in seven has no Message-ID: the content-hash path
    mid = None if rng.random() < 1 / 7 else f"<m{seed}.{i}@enron.example>"
    subject = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 6)))
    header = [f"Date: {_DAYS[d.weekday()]}, {d:%d %b %Y %H:%M:%S} +0000",
              f"From: {frm}", f"To: {', '.join(to)}", f"Subject: {subject}"]
    if mid:
        header.insert(0, f"Message-ID: {mid}")
    raw = "\n".join(header) + "\n\n" + body
    msg = {"message_id": mid, "from": frm, "to": to, "subject": subject,
           "body": body, "iso_date": d.isoformat(), "raw": raw.encode()}
    msg["key"] = _expected_key(msg)
    return msg


def email_batches(work: str, seed: int, fill: int, batch: int,
                  n_batches: int, lookups: int) -> dict:
    """Write the store-fill batch (index 0) and ``n_batches`` micro-batches
    as scan-shaped parquet (content, user, folder, filename).

    Returns ``{"batches": [{"path", "n", "probes"}], "deliveries": [[batch,
    key, user, folder, filename], ...]}``: the ground truth is every
    delivery's expected dedup key and mailbox, so the expected store after
    any prefix of batches is a fold over the deliveries. ``probes`` are the
    keys of ``lookups`` messages of the batch, looked up after that batch
    commits.

    About 30 % of every micro-batch re-delivers an earlier message: half
    of those as an exact redelivery (same mailbox), half re-filed under
    another user/folder (same bytes, new mailbox)."""
    size = f"f{fill}-b{batch}x{n_batches}-l{lookups}"
    out = cache_dir(work, "emails", seed, size)
    meta_path = os.path.join(out, "meta.json")
    if _done(out):
        with open(meta_path, encoding="utf-8") as f:
            return json.load(f)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    delivered: list[tuple[dict, tuple]] = []   # (message, mailbox)
    batches, deliveries = [], []
    for b in range(n_batches + 1):
        rows, keys = [], []
        n = fill if b == 0 else batch
        for _ in range(n):
            if b > 0 and rng.random() < 0.3:
                msg, box = rng.choice(delivered)
                if rng.random() < 0.5:
                    box = (rng.choice(_USERS), rng.choice(_FOLDERS),
                           f"{len(deliveries)}.")
            else:
                msg = _new_message(rng, seed, len(deliveries))
                box = (rng.choice(_USERS), rng.choice(_FOLDERS),
                       f"{len(deliveries)}.")
            delivered.append((msg, box))
            deliveries.append([b, msg["key"], *box])
            rows.append((msg["raw"], *box))
            keys.append(msg["key"])
        path = os.path.join(out, f"batch-{b:03d}.parquet")
        pq.write_table(pa.table({
            "content": pa.array([r[0] for r in rows], pa.binary()),
            "user": [r[1] for r in rows],
            "folder": [r[2] for r in rows],
            "filename": [r[3] for r in rows],
        }), path)
        batches.append({"path": path, "n": n,
                        "probes": rng.sample(sorted(set(keys)), lookups)})
    meta = {"batches": batches, "deliveries": deliveries}
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    _mark_done(out)
    return meta


def expected_store(deliveries: list, last_batch: int) -> dict[str, set]:
    """Key -> set of (user, folder, filename) after batches 0..last_batch."""
    out: dict[str, set] = {}
    for b, key, user, folder, filename in deliveries:
        if b <= last_batch:
            out.setdefault(key, set()).add((user, folder, filename))
    return out


# -- communication graph (graph) --------------------------------------------

def power_law_graph(work: str, seed: int, n_vertices: int,
                    n_draws: int) -> dict:
    """Directed edges between ``n_vertices`` ids whose endpoints are drawn
    with Zipf-like weights (rank^-0.8), self-loops and repeats dropped.
    Returns ``{"path", "edges", "vertices"}``."""
    out = cache_dir(work, "graph", seed, f"n{n_vertices}-m{n_draws}")
    meta_path = os.path.join(out, "meta.json")
    if _done(out):
        with open(meta_path, encoding="utf-8") as f:
            return json.load(f)
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, n_vertices + 1) ** 0.8
    w /= w.sum()
    perm = rng.permutation(n_vertices)   # the hub is a different id per seed
    src = perm[rng.choice(n_vertices, n_draws, p=w)]
    dst = perm[rng.choice(n_vertices, n_draws, p=w)]
    pairs = np.unique(np.stack([src, dst], 1)[src != dst], axis=0)
    path = os.path.join(out, "edges.parquet")
    pq.write_table(pa.table({
        "src": [f"v{a}" for a in pairs[:, 0]],
        "dst": [f"v{b}" for b in pairs[:, 1]],
    }), path)
    meta = {"path": path, "edges": int(len(pairs)),
            "vertices": int(len(np.unique(pairs)))}
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    _mark_done(out)
    return meta
