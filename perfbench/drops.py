"""Seeded zipped-XML ratings drops for the lake_ingest workload, and the
outputs the lake must hold after a pass, computed here independently of
the program under test.

Each period gets PLAYERS records split over ARCHIVES zip files, in the
shape the FIDE drops have (<player><fideid>..</fideid>..</player>).
A small share of records break the validation rules on purpose
(duplicate ids, a bad federation, a missing rating, an out-of-range
birth year), so the validation report has counts to check. One
corrected drop re-issues part of one period with changed ratings and
some new players; the benchmark merges it with an upsert.
"""
import hashlib
import json
import os
import random
import re
import zipfile

PERIODS = 2
PLAYERS = 5000
ARCHIVES = 2
FIRST_YEAR, FIRST_MONTH = 2023, 1
LEADERBOARD_K = 100
FEDERATIONS = ["ARG", "AUS", "BRA", "CHN", "CZE", "ENG", "ESP", "FRA", "GER", "HUN",
               "IND", "ISR", "ITA", "NED", "NOR", "POL", "RUS", "SWE", "UKR", "USA"]
FIELDS = ["fideid", "name", "country", "sex", "title", "rating", "games", "k", "birthday"]


def row_hash(values):
    """First 8 bytes of SHA-256 of the canonical row, as graftbench.Digest renders it."""
    canon = "\x1f".join("\\N" if v is None else str(v) for v in values)
    return int.from_bytes(hashlib.sha256(canon.encode("utf-8")).digest()[:8], "big")


def digest(rows):
    """Order-insensitive digest; each row lists its values in column-name order."""
    total = sum(row_hash(r) for r in rows) % (1 << 64)
    return f"{len(rows)}:{total:016x}"


def render(players):
    out = ["<players>"]
    for p in players:
        out.append("<player>")
        for f in FIELDS:
            if p.get(f) is not None:
                out.append(f"<{f}>{p[f]}</{f}>")
        out.append("</player>")
    out.append("</players>")
    return "".join(out)


def write_zips(directory, stem, players, archives):
    os.makedirs(directory, exist_ok=True)
    xml_bytes = 0
    for a in range(archives):
        part = players[a::archives]
        xml = render(part).encode("utf-8")
        xml_bytes += len(xml)
        with zipfile.ZipFile(os.path.join(directory, f"{stem}_{a}.zip"), "w",
                             zipfile.ZIP_DEFLATED) as z:
            z.writestr(f"{stem}_{a}.xml", xml)
    return xml_bytes


def period_of(i):
    m = FIRST_MONTH - 1 + i
    return FIRST_YEAR + m // 12, m % 12 + 1


def conformed(p):
    """The lake columns the leaderboard reads, after Conform."""
    rating = p.get("rating")
    return {"fide_id": p["fideid"], "player_name": p["name"],
            "fide_federation": p["country"], "rating": None if rating is None else int(rating)}


def leaderboard(rows):
    by_fed = {}
    for r in rows:
        by_fed.setdefault(r["fide_federation"], []).append(r)
    out = []
    for fed, rs in by_fed.items():
        # rating desc with nulls last, then fide_id
        rs.sort(key=lambda r: (r["rating"] is None, -(r["rating"] or 0), r["fide_id"]))
        for rnk, r in enumerate(rs[:LEADERBOARD_K], start=1):
            out.append((fed, r["fide_id"], r["player_name"], r["rating"], rnk))
    return digest(out)


def report(players):
    ids = {}
    for p in players:
        ids[p["fideid"]] = ids.get(p["fideid"], 0) + 1
    births = [int(p["birthday"]) for p in players if p["birthday"] != "0"]
    return {
        "not_null:rating": sum(1 for p in players if p.get("rating") is None),
        "regex:fide_federation": sum(1 for p in players
                                     if not re.fullmatch(r"[A-Za-z]{3}", p["country"])),
        "range:birth_year": sum(1 for b in births if b < 1900 or b > 2026),
        "range:period_month": 0,
        "unique:fide_id": sum(n for n in ids.values() if n > 1),
    }


def generate(seed, out_dir):
    rng = random.Random(seed)
    pool = [{"fideid": 100000 + i, "name": f"Player {i:06d}",
             "country": rng.choice(FEDERATIONS), "sex": rng.choice("FM"),
             "title": rng.choice(["GM", "IM", "FM", "CM", "WGM", "None"]),
             "base": rng.randint(1200, 2750), "birthday": rng.randint(1940, 2015)}
            for i in range(PLAYERS * 3 // 2)]
    corrected_idx = rng.randrange(PERIODS)
    periods, lake_rows, xml_bytes = [], {}, 0
    for i in range(PERIODS):
        year, month = period_of(i)
        players = []
        for base in rng.sample(pool, PLAYERS):
            p = {"fideid": base["fideid"], "name": base["name"], "country": base["country"],
                 "sex": base["sex"], "title": base["title"],
                 "rating": str(base["base"] + rng.randint(-40, 40)),
                 "games": str(rng.randint(0, 30)), "k": str(rng.choice([10, 20, 40])),
                 "birthday": str(base["birthday"])}
            u = rng.random()
            if u < 0.005:
                p["country"] = "XXXX"
            elif u < 0.010:
                p["rating"] = None
            elif u < 0.015:
                p["birthday"] = "1850"
            elif u < 0.060:
                p["birthday"] = "0"
            players.append(p)
        if i != corrected_idx:
            # duplicate ids with a different rating, so the leaderboard order stays total
            for p in rng.sample(players, PLAYERS // 200):
                if p["rating"] is not None:
                    players.append(dict(p, rating=str(int(p["rating"]) + 1), name=p["name"] + " b"))
        rng.shuffle(players)
        tag = f"p{i + 1:02d}"
        xml_bytes += write_zips(os.path.join(out_dir, tag), tag, players, ARCHIVES)
        lake_rows[tag] = [conformed(p) for p in players]
        periods.append({"tag": tag, "year": year, "month": month,
                        "glob": os.path.abspath(os.path.join(out_dir, tag)) + "/*.zip",
                        "rows": len(players), "report": report(players),
                        "_players": players})

    # the corrected drop: changed ratings for some players of one period, plus new players
    cp = periods[corrected_idx]
    fixes = [dict(p, rating=str(int(p["rating"]) + rng.randint(1, 60)))
             for p in rng.sample(cp["_players"], PLAYERS // 50) if p["rating"] is not None]
    fresh = [{"fideid": 900000 + j, "name": f"New {j:05d}", "country": rng.choice(FEDERATIONS),
              "sex": "F", "title": "None", "rating": str(rng.randint(2000, 2800)),
              "games": "5", "k": "20", "birthday": "2001"} for j in range(PLAYERS // 100)]
    write_zips(os.path.join(out_dir, "corrected"), "corrected", fixes + fresh, 1)
    merged = {r["fide_id"]: r for r in lake_rows[cp["tag"]]}
    merged.update({r["fide_id"]: r for r in map(conformed, fixes + fresh)})
    lake_rows[cp["tag"]] = list(merged.values())

    for p in periods:
        p["leaderboard"] = leaderboard(lake_rows[p["tag"]])
        del p["_players"]
    # the backfill planner looks one month either side of the ingested range
    start, end = period_of(-1), period_of(PERIODS)
    spec = {
        "seed": seed, "xml_bytes": xml_bytes, "periods": periods,
        "corrected": {"year": cp["year"], "month": cp["month"],
                      "glob": os.path.abspath(os.path.join(out_dir, "corrected")) + "/*.zip"},
        "missing": {"start": list(start), "end": list(end),
                    "digest": digest([(m, y) for y, m in (start, end)])},
    }
    path = os.path.join(out_dir, "drops.json")
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
    return path, spec
