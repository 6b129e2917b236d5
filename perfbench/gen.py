"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical zips, delivery batches and tables.

* ``write_match_zip`` builds cricsheet-shaped IPL match JSON (the
  nested info / innings / overs / deliveries document the pipeline
  flattens) and returns the flattened row count ``run_ingest`` must
  produce for it, so the checks need no second flatten.
* ``delivery_rows`` builds one day of flat delivery rows for the
  warehouse (snapshot table) workload.
* ``write_star_tables`` writes the relational star schema plus the
  events, documents and embeddings tables the analytic queries read,
  with the column types and value domains of the query fixtures.

Row fan-out of the flatten, per match: the JSON reader infers
``info.players`` (team -> roster) as a STRUCT with one array field per
team name seen in the batch, so the two playing rosters explode one
after the other (11 x 11 rows) and a non-playing team's field is null
(one row under explode_outer). ``info.teams`` explodes x2, and each
delivery contributes one row, or one per fielder of each wicket.
Because the struct's fields are the teams of the batch, a batch whose
team set differs from the previous batch's is reported as schema drift
by the pipeline's drift gate (``dropped: info_players_<team>``).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zipfile

import numpy as np

TEAMS = (
    "Chennai Super Kings", "Delhi Capitals", "Gujarat Titans",
    "Kolkata Knight Riders", "Lucknow Super Giants", "Mumbai Indians",
    "Punjab Kings", "Rajasthan Royals", "Royal Challengers Bengaluru",
    "Sunrisers Hyderabad",
)
VENUES = (
    ("Chennai", "MA Chidambaram Stadium"), ("Delhi", "Arun Jaitley Stadium"),
    ("Ahmedabad", "Narendra Modi Stadium"), ("Kolkata", "Eden Gardens"),
    ("Lucknow", "Ekana Cricket Stadium"), ("Mumbai", "Wankhede Stadium"),
    ("Mohali", "PCA Stadium"), ("Jaipur", "Sawai Mansingh Stadium"),
    ("Bengaluru", "M Chinnaswamy Stadium"), ("Hyderabad", "Rajiv Gandhi Stadium"),
)
SQUAD = 18  # players per team squad; 11 of them play a given match
DISMISSALS = ("caught", "bowled", "lbw", "run out", "stumped", "caught and bowled")
FIELDED = {"caught": 1, "run out": 2, "stumped": 1}


def _player(team: str, i: int) -> str:
    return f"{''.join(w[0] for w in team.split())} Player {i:02d}"


def match_doc(rng: np.random.Generator, match_no: int) -> tuple[dict, int]:
    """One cricsheet-shaped match document and its flattened row count."""
    a, b = rng.choice(len(TEAMS), size=2, replace=False)
    teams = [TEAMS[a], TEAMS[b]]
    rosters = {
        t: [_player(t, int(i)) for i in sorted(rng.choice(SQUAD, 11, replace=False))]
        for t in teams
    }
    city, venue = VENUES[int(a)]
    day = dt.date(2024, 3, 22) + dt.timedelta(days=match_no)
    toss_winner = teams[int(rng.integers(2))]
    innings = []
    n_rows = 0  # sum over deliveries of the wicket/fielder fan-out
    for inn in range(2):
        bat, bowl = rosters[teams[inn]], rosters[teams[1 - inn]]
        overs = []
        for over in range(20):
            deliveries = []
            legal = 0
            while legal < 6:
                d = {
                    "batter": bat[int(rng.integers(11))],
                    "bowler": bowl[6 + over % 5],
                    "non_striker": bat[int(rng.integers(11))],
                }
                runs = int(rng.choice(7, p=(0.35, 0.35, 0.1, 0.02, 0.1, 0.0, 0.08)))
                extras, rebowled = 0, False  # wides and no-balls are re-bowled
                u = rng.random()
                if u < 0.03:
                    extras, runs, rebowled = 1, 0, True
                    d["extras"] = {"wides": 1}
                elif u < 0.04:
                    extras, rebowled = 1, True
                    d["extras"] = {"noballs": 1}
                elif u < 0.06:
                    extras, runs = int(rng.integers(1, 5)), 0
                    d["extras"] = {"legbyes": extras}
                legal += not rebowled
                d["runs"] = {"batter": runs, "extras": extras, "total": runs + extras}
                fan = 1
                if rng.random() < 0.045:
                    kind = DISMISSALS[int(rng.integers(len(DISMISSALS)))]
                    wk = {"kind": kind, "player_out": d["batter"]}
                    n_f = FIELDED.get(kind, 0)
                    if n_f:
                        wk["fielders"] = [
                            {"name": bowl[int(rng.integers(11))]} for _ in range(n_f)
                        ]
                    d["wickets"] = [wk]
                    fan = max(1, n_f)
                n_rows += fan
                deliveries.append(d)
            overs.append({"over": over, "deliveries": deliveries})
        innings.append({"team": teams[inn], "overs": overs})

    info = {
        "city": city,
        "dates": [day.isoformat()],
        "season": "2024",
        "venue": venue,
        "gender": "male",
        "match_type": "T20",
        "overs": 20,
        "teams": teams,
        "event": {"name": "Indian Premier League", "match_number": match_no + 1},
        "toss": {"decision": ("bat", "field")[int(rng.integers(2))], "winner": toss_winner},
        "players": rosters,
    }
    if rng.random() < 0.05:  # no result: outcome.by and player_of_match absent
        info["outcome"] = {"result": "no result"}
    else:
        winner = teams[int(rng.integers(2))]
        by = {"runs": int(rng.integers(1, 80))} if rng.random() < 0.5 else {
            "wickets": int(rng.integers(1, 10))
        }
        info["outcome"] = {"winner": winner, "by": by}
        info["player_of_match"] = [rosters[winner][int(rng.integers(11))]]
    doc = {
        "meta": {"data_version": "1.1.0", "created": day.isoformat(), "revision": 1},
        "info": info,
        "innings": innings,
    }
    # info.teams x2, dates x1, player_of_match x1 (or absent), rosters 11 x 11
    return doc, 2 * len(info["dates"]) * 11 * 11 * n_rows


def match_docs(seed: int, n: int) -> list[tuple[str, dict, int]]:
    """``n`` matches as (file name, document, expected flattened rows).
    Match ``i`` depends only on (seed, i), so a longer list extends a
    shorter one: the incremental batch is the tail of a bigger season."""
    out = []
    for i in range(n):
        rng = np.random.default_rng([seed, i])
        doc, rows = match_doc(rng, i)
        out.append((f"{1400000 + i}.json", doc, rows))
    return out


def write_match_zip(path: str, docs: list[tuple[str, dict, int]]) -> int:
    """Write the matches as a zip of JSON members; returns the expected
    flattened row count of all of them."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, doc, _ in docs:
            # fixed member timestamps keep the archive byte-identical
            zf.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), json.dumps(doc))
    return sum(rows for _, _, rows in docs)


# --- warehouse deliveries -------------------------------------------------

DELIVERY_DDL = (
    "delivery_id BIGINT, day INT, match_id INT, innings INT, over INT, "
    "ball INT, batter STRING, bowler STRING, runs_total INT, is_wicket BOOLEAN"
)


def delivery_rows(seed: int, day: int, n: int, first_id: int) -> list[tuple]:
    """One day of flattened delivery rows with ids first_id..first_id+n-1
    (ids ascend with the day, so per-file id and day ranges are tight)."""
    rng = np.random.default_rng([seed, 7, day])
    team = rng.integers(len(TEAMS), size=n)
    pl = rng.integers(11, size=(n, 2))
    runs = rng.choice(7, size=n, p=(0.35, 0.35, 0.1, 0.02, 0.1, 0.0, 0.08))
    wk = rng.random(n) < 0.045
    rows = []
    for i in range(n):
        t = TEAMS[int(team[i])]
        rows.append((
            first_id + i, day, day * 10 + i // 240, (i // 120) % 2 + 1,
            (i // 6) % 20, i % 6 + 1, _player(t, int(pl[i, 0])),
            _player(t, int(pl[i, 1]) + 6), int(runs[i]), bool(wk[i]),
        ))
    return rows


# --- analytic tables --------------------------------------------------------

_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def write_star_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """The query fixtures' tables at ``scale`` (0.01 = 60k lineitems), one
    parquet file each under ``out_dir``. Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 11])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(50_000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    def pick(vals, n):
        return [vals[i] for i in rng.integers(len(vals), size=n)]

    ts_us = pa.timestamp("us")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(25, size=n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(
                ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(25, size=n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_ADJ, n_part), pick(_PART_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
            "p_type": pick(("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), ts_us),
            "o_orderpriority": pick(
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(n_ord, size=n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(n_part, size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(n_supp, size=n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, size=n_li) / 100,
            "l_tax": rng.integers(0, 9, size=n_li) / 100,
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": pa.array(days("1995-01-02", 2498, n_li), ts_us),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(
                np.sort(np.datetime64("2024-01-01", "us")
                        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")),
                ts_us,
            ),
            "user_id": pa.array(rng.integers(max(1, n_ev // 66), size=n_ev), pa.int64()),
            "event_type": pick(("click", "error", "purchase", "signup", "view"), n_ev),
            "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(100, size=n_ev)],
        }),
    }

    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # planted near-duplicate
            words = texts[int(rng.integers(i))].split()
            words[int(rng.integers(len(words)))] = "dup"
        else:
            words = pick(_DOC_WORDS, int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(("en", "en", "en", "de", "es", "fr", "zh"), n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(10, size=n_emb)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
