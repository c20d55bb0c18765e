"""Seeded input generators for the graft benchmark.

Two kinds of input are made here, and the program sees only these files:

* the sf0.1 analytic tables (star schema + events, documents,
  embeddings), one parquet file each, from a fixed data seed, shaped like
  the tables the engine's query suite was written against (same columns,
  types, row counts and value domains);
* a replay feed for one workload seed: a history of replays already in
  the store plus the replays the timed loop ingests, each as an HTML page and a JSON
  document, one listing page per poll, and the expectations the run is
  checked against.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SF = 0.1

# ---------------------------------------------------------------------------
# analytic tables


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 20 and r < 0.0516:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = _pick(rng, ["en", "zh", "de", "es", "fr"], n,
                  p=[0.41, 0.15, 0.14, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": langs,
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    centers = rng.normal(0, 0.07, (labels, dim))
    e = rng.normal(0, 1, (n, dim)) + centers[label] * 8
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(e.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def tables():
    """Returns {name: pyarrow.Table} for the analytic tables."""
    rng = np.random.default_rng(TABLE_SEED)
    sf = SF
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, segs, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["N", "A", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n_ev),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write_tables(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# replay feed

POOL = 2000
TYPES = ["static-mortar", "static-weapon", "apc", "car", "tank", "truck",
         "parachute", "plane", "heli", "sea", "boat", "drone"]
GUNS = ["AK-74", "M4A1", "PKM", "RPG-7", "SVD", "mine", "M240", "grenade"]
ISLANDS = ["Altis", "Stratis", "Tanoa", "Chernarus &quot;winter&quot;", "Takistan"]
SIDES = {1: "EAST", 2: "WEST", 3: "GUER", 4: "CIV"}
FIRST_REPLAY = 10000


def _nick(rng, i):
    base = f"Player{i}"
    r = rng.random()
    if r < 0.03:
        return base[:4] + "'" + base[4:]
    if r < 0.05:
        return '"' + base + '"'
    return base


def _hms(sec):
    return f"{sec // 3600 % 24:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"


def _replay(rng, number, nicks):
    n = rng.randint(100, 200)
    ids = rng.sample(range(1, POOL + 1), n)
    sides = {p: (1 if k % 2 == 0 else 2) if rng.random() > 0.1 else 3
             for k, p in enumerate(ids)}
    # a few renames, so the d_players upsert changes stored nicknames
    for p in rng.sample(ids, 2):
        nicks[p] = f"Player{p}_{number}"
    players = {str(p): [str(sides[p]), nicks[p], f"slot{k}", f"sq{k % 12}"]
               for k, p in enumerate(ids)}
    vehicles = {}
    for v in range(rng.randint(10, 40)):
        name = rng.choice(["T-72", "BMP-2", "UAZ \"open\"", "Ka-52", "Mi-8",
                           "M2 'Ma Deuce'", "Ural", "Boat"])
        vehicles[str(1000 + v)] = [rng.choice(TYPES), name]
    start = 1700000000 + number * 7200
    duration = rng.randint(3600, 7200)
    n_frags = rng.randint(100, 400)
    top = rng.choice(ids)
    dead = {}
    kills = {}
    for f in range(n_frags):
        t = str(start + rng.randint(1, duration))
        slot = dead.setdefault(t, {})
        victim = rng.choice(ids)
        while str(victim) in slot:
            victim = rng.choice(ids)
        r = rng.random()
        if r < 0.05:
            killer = None
            tk = 0
        elif f % 4 == 0:
            # the planted top killer: a quarter of all frags
            killer = top
            tk = 0
        else:
            killer = rng.choice(ids)
            while killer == top:
                killer = rng.choice(ids)
            tk = 1 if rng.random() < 0.05 else 0
        if killer is not None and tk == 0:
            kills[killer] = kills.get(killer, 0) + 1
        dist = None if rng.random() < 0.05 else rng.randint(1, 1500)
        slot[str(victim)] = [f"veh{rng.randint(0, 50)}", killer,
                             f"veh{rng.randint(0, 50)}", rng.choice(GUNS), dist, tk]
    counts = {s: sum(1 for p in ids if sides[p] == s) for s in (1, 2, 3)}
    doc = {"factions": {str(s): [0, 0, c] for s, c in counts.items() if c},
           "vehiclesUnits": vehicles, "players": players, "playersDead": dead}
    slots = n + rng.randint(0, 40)
    commanders = "".join(
        f'<tr><th>Командир стороны <span style="color: #aa0000">{SIDES[s]}</span></th>'
        f'<td><div class="position-relative" data-toggle="current">'
        f'<a href="/projects/wog-a3/players/{ids[s]}/">{nicks[ids[s]]}</a></div></td></tr>\n'
        for s in counts if counts[s])
    day = 1 + number % 28
    html = (
        f"<html>\n<head>\n\t<title>Реплей №{number} от {day:02d}.03.2024 / WOG Stats</title>\n"
        f"</head>\n<body>\n<h1><a href=\"/missions/{number % 97}/\">Operation {number}</a></h1>\n<table>\n"
        f"\t<tr><th>Остров</th><td>{rng.choice(ISLANDS)}</td></tr>\n\t{commanders}"
        f"\t<tr><th>Сторона-победитель</th><td><span style=\"color: #aa0000\">"
        f"{SIDES[rng.choice([1, 2])]}</span></td></tr>\n"
        f"\t<tr><th>Количество игроков / слотов</th><td>{n} / {slots}</td></tr>\n"
        f"\t<tr><th>Дата и время старта миссии</th><td>суббота, {_hms(start)}</td></tr>\n"
        f"\t<tr><th>Дата и время окончания миссии</th><td>суббота, {_hms(start + duration)}</td></tr>\n"
        f"\t<tr><th>Длительность миссии</th><td>{_hms(duration)}</td></tr>\n"
        "</table>\n</body>\n</html>\n")
    second = max([c for k, c in kills.items() if k != top] or [0])
    assert kills[top] > second, "the planted top killer must be unique"
    expect = {
        "replay": number, "players": n, "vehicles": len(vehicles),
        "frags": n_frags, "ids": ids, "top_killer": top, "top_kills": kills[top]}
    return html, json.dumps(doc, ensure_ascii=False), expect


def _listing(entries):
    rows = "".join(f'\t<tr><td><a href="/games/{i}/">Replay {i}</a></td>'
                   f"<td>{p} / {p + 20}</td></tr>\n" for i, p in entries)
    return f"<html>\n<body>\n<table>\n{rows}</table>\n</body>\n</html>\n"


def replay_feed(out_dir, seed, history=200, feed=120):
    """Writes the history and feed for one seed under out_dir.

    Layout: history.jsonl (one {"replay", "html", "json", "text_data"} per
    line), pages/<id>.html|json for the feed, ops/<k>/listing.html for
    the k-th poll, and expect.json with every replay's planted facts.
    """
    rng = random.Random(seed)
    nicks = {i: _nick(rng, i) for i in range(1, POOL + 1)}
    os.makedirs(os.path.join(out_dir, "pages"), exist_ok=True)
    number = FIRST_REPLAY
    expects = {}
    with open(os.path.join(out_dir, "history.jsonl"), "w", encoding="utf-8") as f:
        for _ in range(history):
            html, js, exp = _replay(rng, number, nicks)
            expects[number] = exp
            summary = json.dumps({"replay_number": number,
                                  "cutlets": [[exp["top_killer"], exp["top_kills"]]]})
            f.write(json.dumps({"replay": number, "html": html, "json": js,
                                "text_data": summary}, ensure_ascii=False) + "\n")
            number += 1
    watermark = number - 1
    feed_ids = []
    small = []
    for k in range(feed):
        html, js, exp = _replay(rng, number, nicks)
        expects[number] = exp
        with open(os.path.join(out_dir, "pages", f"{number}.html"), "w", encoding="utf-8") as f:
            f.write(html)
        with open(os.path.join(out_dir, "pages", f"{number}.json"), "w", encoding="utf-8") as f:
            f.write(js)
        feed_ids.append(number)
        target = number
        number += 1
        # small games (<= 99 players) published after the target are
        # listed above it (newest first, like the stats site): discover
        # must skip them, now and on later polls
        small = [s for s in small if s[0] > watermark]
        while rng.random() < 0.3:
            small.append((number, rng.randint(20, 99)))
            number += 1
        entries = [(target, exp["players"])] + small
        entries += [(i, expects[i]["players"]) for i in range(watermark, watermark - 8, -1)
                    if i in expects]
        entries.sort(key=lambda e: -e[0])
        os.makedirs(os.path.join(out_dir, "ops", str(k)), exist_ok=True)
        with open(os.path.join(out_dir, "ops", str(k), "listing.html"), "w", encoding="utf-8") as f:
            f.write(_listing(entries))
        watermark = target
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump({"history": list(range(FIRST_REPLAY, FIRST_REPLAY + history)),
                   "feed": feed_ids,
                   "replays": {str(k): v for k, v in expects.items()}}, f)
    return feed_ids
