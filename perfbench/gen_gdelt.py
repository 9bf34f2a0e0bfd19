#!/usr/bin/env python3
"""Seeded raw GDELT 2.0 event corpus for the gdelt_pipeline workload.

Writes headerless tab-separated files named the way the archive names them,
so `graft.sources.Files.detectFileType` routes each one:

  * daily   `YYYYMMDD.export.CSV` (flat parquet sink),
  * monthly `YYYYMM.CSV`          (Hive sink, Year/MonthYear),
  * yearly  `YYYY.CSV`            (Hive sink, Year),

and next to them (in the parent directory) `expected.json` with every count
the benchmark checks the pipeline against. The corpus carries the cases the
stages exist for: malformed lines (one field too many or too few),
non-numeric text in numeric columns, empty (null) fields in the filter
check columns and in partition keys, a skewed QuadClass, an EventRootCode
with a null stratum and strata smaller than the per-stratum sample size,
and one day smaller than the per-day sample size.

Row width is the library's column count, `graft.schema.Gdelt.columns`:
58 names (the scaladoc there says 61).

Usage: gen_gdelt.py --seed N --out DIR
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pandas as pd

COLUMNS = [
    "GlobalEventID", "Day", "MonthYear", "Year", "FractionDate",
    "Actor1Code", "Actor1Name", "Actor1CountryCode", "Actor1KnownGroupCode",
    "Actor1EthnicCode", "Actor1Religion1Code", "Actor1Religion2Code",
    "Actor1Type1Code", "Actor1Type2Code", "Actor1Type3Code",
    "Actor2Code", "Actor2Name", "Actor2CountryCode", "Actor2KnownGroupCode",
    "Actor2EthnicCode", "Actor2Religion1Code", "Actor2Religion2Code",
    "Actor2Type1Code", "Actor2Type2Code", "Actor2Type3Code",
    "IsRootEvent", "EventCode", "EventBaseCode", "EventRootCode", "QuadClass",
    "GoldsteinScale", "NumMentions", "NumSources", "NumArticles", "AvgTone",
    "Actor1Geo_Type", "Actor1Geo_FullName", "Actor1Geo_CountryCode",
    "Actor1Geo_ADM1Code", "Actor1Geo_Lat", "Actor1Geo_Long",
    "Actor1Geo_FeatureID",
    "Actor2Geo_Type", "Actor2Geo_FullName", "Actor2Geo_CountryCode",
    "Actor2Geo_ADM1Code", "Actor2Geo_Lat", "Actor2Geo_Long",
    "Actor2Geo_FeatureID",
    "ActionGeo_Type", "ActionGeo_FullName", "ActionGeo_CountryCode",
    "ActionGeo_ADM1Code", "ActionGeo_Lat", "ActionGeo_Long",
    "ActionGeo_FeatureID",
    "DATEADDED", "SOURCEURL",
]
WIDTH = len(COLUMNS)
ROWS = 30000  # corpus size, about 11 MB of raw TSV
COL = {c: i for i, c in enumerate(COLUMNS)}

# filter-stage check columns (graft.schema.Gdelt.defaultFilterColumns)
CHECK = ["GlobalEventID", "Actor1Name", "Actor2Name", "QuadClass",
         "Actor1Geo_Lat", "Actor1Geo_Long", "Actor2Geo_Lat", "Actor2Geo_Long",
         "ActionGeo_Lat", "ActionGeo_Long", "Day"]
NUMERIC = {"GlobalEventID", "FractionDate", "IsRootEvent", "QuadClass",
           "GoldsteinScale", "NumMentions", "NumSources", "NumArticles",
           "AvgTone", "Actor1Geo_Type", "Actor1Geo_Lat", "Actor1Geo_Long",
           "Actor2Geo_Type", "Actor2Geo_Lat", "Actor2Geo_Long",
           "ActionGeo_Type", "ActionGeo_Lat", "ActionGeo_Long", "DATEADDED"}
INTS = {"Year", "MonthYear", "Day"}

# sample-stage parameters, shared with the harness through expected.json
INDEXED_N = 2000
PER_DAY = 50
PER_STRATUM = 40
STRAT_FILTER = {"OR": {"QuadClass": [1, 4],
                       "GoldsteinScale": {"op": "gt", "value": 5.0}},
                "NumMentions": {"op": "between", "min": 2, "max": 60}}
DAYS = [dt.date(2013, 4, 1) + dt.timedelta(days=i) for i in range(10)]
RANGE = ("20130403", "20130406")  # gdelt-tsv day-range read, inclusive
MONTHS = ["200601", "200602"]
YEARS = ["1979", "1980"]

NAMES = np.array(["UNITED STATES", "RUSSIA", "CHINA", "POLICE", "PRESIDENT",
                  "GOVERNMENT", "PROTESTER", "MILITARY", "UNITED NATIONS",
                  "BUSINESS", "SCHOOL", "COURT", "FRANCE", "BRAZIL", "INDIA"])
CODES = np.array(["USA", "RUS", "CHN", "COP", "GOV", "MIL", "BUS", "EDU",
                  "JUD", "FRA", "BRA", "IND", "IGOUNO", "OPP", "CVL"])
PLACES = np.array(["Washington, District of Columbia, United States",
                   "Moscow, Moskva, Russia", "Beijing, Beijing, China",
                   "Paris, Ile-de-France, France", "Brasilia, Brazil",
                   "New Delhi, Delhi, India", "London, England, United Kingdom"])
# EventRootCode 01..20, skewed; 19 and 20 rare so their strata stay below k
ROOTS = np.array(["%02d" % i for i in range(1, 21)])
ROOT_P = np.array([14, 12, 10, 10, 8, 7, 6, 5, 5, 4, 4, 4, 3, 2, 2, 1.5,
                   1.0, 0.8, 0.05, 0.03])
QUAD_P = np.array([0.52, 0.25, 0.14, 0.09])  # QuadClass 1..4, skewed


def null_after_coerce(col, a):
    """Null mask after Convert.coerce: empty fields, and for numeric or
    date-int columns any text that does not parse as a number."""
    if col in NUMERIC or col in INTS:
        return pd.to_numeric(pd.Series(a), errors="coerce").isna().to_numpy()
    return a == ""


def fixed(x, digits):
    """Decimal strings of x with the given number of fraction digits."""
    return np.array([f"{v:.{digits}f}" for v in np.asarray(x).tolist()],
                    dtype=object)


def concat(*parts):
    """Element-wise string concatenation of arrays and scalars."""
    cols = [p.tolist() if isinstance(p, np.ndarray) else None for p in parts]
    n = max(len(c) for c in cols if c is not None)
    cols = [c if c is not None else [p] * n for c, p in zip(cols, parts)]
    return np.array(["".join(t) for t in zip(*cols)], dtype=object)


def gen_rows(rng, n, days, kind, id0):
    """n rows as a list of WIDTH column arrays; days[i] is row i's date."""
    f = [None] * WIDTH
    ids = np.arange(id0, id0 + n)
    f[COL["GlobalEventID"]] = ids.astype(str)
    uniq, inv = np.unique(np.array(days, dtype="datetime64[D]"),
                          return_inverse=True)
    ud = [d.astype(object) for d in uniq]
    for col, fmt in (("Day", "%Y%m%d"), ("MonthYear", "%Y%m"), ("Year", "%Y")):
        f[COL[col]] = np.array([d.strftime(fmt) for d in ud])[inv]
    f[COL["FractionDate"]] = np.array(
        ["%.4f" % (d.year + (d.timetuple().tm_yday - 1) / 365.0)
         for d in ud])[inv]
    for a in ("Actor1", "Actor2"):
        pick = rng.integers(0, len(CODES), n)
        f[COL[a + "Code"]] = CODES[pick]
        f[COL[a + "Name"]] = NAMES[pick]
        f[COL[a + "CountryCode"]] = CODES[rng.integers(0, 3, n)]
        for c in ("KnownGroupCode", "EthnicCode", "Religion1Code",
                  "Religion2Code", "Type2Code", "Type3Code"):
            f[COL[a + c]] = np.where(rng.random(n) < 0.9, "", "XYZ")
        f[COL[a + "Type1Code"]] = CODES[rng.integers(3, 9, n)]
    f[COL["IsRootEvent"]] = rng.integers(0, 2, n).astype(str)
    roots = ROOTS[rng.choice(len(ROOTS), n, p=ROOT_P / ROOT_P.sum())]
    sub = rng.integers(0, 10, n).astype(str)
    f[COL["EventRootCode"]] = roots
    f[COL["EventBaseCode"]] = concat(roots, sub)
    f[COL["EventCode"]] = concat(roots, sub, "1")
    f[COL["QuadClass"]] = (rng.choice(4, n, p=QUAD_P) + 1).astype(str)
    f[COL["GoldsteinScale"]] = fixed(rng.uniform(-10, 10, n), 1)
    f[COL["NumMentions"]] = rng.integers(1, 100, n).astype(str)
    f[COL["NumSources"]] = rng.integers(1, 10, n).astype(str)
    f[COL["NumArticles"]] = rng.integers(1, 50, n).astype(str)
    f[COL["AvgTone"]] = fixed(rng.normal(-2, 4, n), 6)
    for g in ("Actor1Geo", "Actor2Geo", "ActionGeo"):
        pick = rng.integers(0, len(PLACES), n)
        f[COL[g + "_Type"]] = rng.integers(1, 5, n).astype(str)
        f[COL[g + "_FullName"]] = PLACES[pick]
        f[COL[g + "_CountryCode"]] = CODES[pick % 3]
        f[COL[g + "_ADM1Code"]] = concat(CODES[pick % 3], "0")
        f[COL[g + "_Lat"]] = fixed(rng.uniform(-60, 70, n), 4)
        f[COL[g + "_Long"]] = fixed(rng.uniform(-170, 170, n), 4)
        f[COL[g + "_FeatureID"]] = rng.integers(1000, 99999, n).astype(str)
    f[COL["DATEADDED"]] = f[COL["Day"]]
    f[COL["SOURCEURL"]] = concat("http://news.example.org/story/",
                                 ids.astype(str))
    f = [c.astype(object) for c in f]

    # dirty cells: nulls in check columns, text in numeric columns
    def blank(col, p, text=""):
        f[COL[col]][rng.random(n) < p] = text
    blank("Actor1Name", 0.02)
    blank("Actor2Name", 0.03)
    blank("QuadClass", 0.02)
    blank("QuadClass", 0.004, "n/a")
    blank("GoldsteinScale", 0.005, "unknown")
    blank("NumMentions", 0.004, "many")
    blank("EventRootCode", 0.01)
    blank("GlobalEventID", 0.003, "evt")
    for g in ("Actor1Geo_Lat", "Actor2Geo_Long", "ActionGeo_Lat"):
        blank(g, 0.01)
    if kind == "daily":
        blank("Day", 0.004)
    elif kind == "monthly":
        blank("MonthYear", 0.003)
    else:
        blank("Year", 0.003, "19x9")
    return f


def to_lines(rng, f, p):
    """Tab-joined lines, a share p of them malformed (one field too many or
    one too few). Returns (lines, per-line field counts)."""
    n = len(f[0])
    lines = ["\t".join(r) for r in zip(*f)]
    widths = np.full(n, WIDTH)
    bad = np.nonzero(rng.random(n) < p)[0]
    longer = rng.random(len(bad)) < 0.5
    for i, more in zip(bad, longer):
        if more:
            lines[i] += "\textra"
            widths[i] = WIDTH + 1
        else:
            lines[i] = lines[i].rsplit("\t", 1)[0]
            widths[i] = WIDTH - 1
    return lines, widths


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    raw = os.path.join(a.out, "raw")
    os.makedirs(raw, exist_ok=True)

    per_daily = int(ROWS * 0.7 / (len(DAYS) - 1))
    per_hist = int(ROWS * 0.3 / (len(MONTHS) + len(YEARS)))
    files = []  # (file name, kind, n, first date, days between rows)
    for k, d in enumerate(DAYS):
        # the last day is smaller than the per-day sample size
        n = 30 if k == len(DAYS) - 1 else per_daily
        files.append((d.strftime("%Y%m%d") + ".export.CSV", "daily", n, d, 0))
    for m in MONTHS:
        files.append((m + ".CSV", "monthly", per_hist,
                      dt.date(int(m[:4]), int(m[4:]), 1), 28))
    for y in YEARS:
        files.append((y + ".CSV", "yearly", per_hist, dt.date(int(y), 1, 1),
                      365))

    exp = {"width": WIDTH, "raw_lines": 0, "raw_bytes": 0,
           "converted": {"daily": 0, "monthly": 0, "yearly": 0},
           "filter": {k: [0, 0] for k in ("daily", "monthly", "yearly")},
           "daily_rows_after_filter": {}, "strata": {},
           "range": {"lo": RANGE[0], "hi": RANGE[1], "rows": 0,
                     "files": len(files), "files_pruned": 0}}
    next_id = 1
    for name, kind, n, first, span in files:
        days = [first + dt.timedelta(days=i % span if span else 0)
                for i in range(n)]
        f = gen_rows(rng, n, days, kind, next_id)
        next_id += n
        lines, widths = to_lines(rng, f, 0.005)
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(raw, name), "wb") as fh:
            fh.write(data)
        exp["raw_lines"] += n
        exp["raw_bytes"] += len(data)
        day = f[COL["Day"]].astype(str)
        # gdelt-tsv day-range read: files whose name period misses the
        # range are pruned; the connector drops over-length rows only
        if kind == "daily" and RANGE[0] <= name[:8] <= RANGE[1]:
            exp["range"]["rows"] += int(np.sum(
                (widths <= WIDTH) & (day != "") &
                (day >= RANGE[0]) & (day <= RANGE[1])))
        else:
            exp["range"]["files_pruned"] += 1
        null = {c: null_after_coerce(c, f[COL[c]].astype(str))
                for c in set(CHECK) | INTS | {"QuadClass", "GoldsteinScale",
                                              "NumMentions"}}
        part = {"daily": [], "monthly": ["Year", "MonthYear"],
                "yearly": ["Year"]}[kind]
        # DROPMALFORMED in the convert read, then the Hive write's
        # partition-key check
        written = widths == WIDTH
        for c in part:
            written &= ~null[c]
        kept = written.copy()
        for c in CHECK:
            kept &= ~null[c]
        exp["converted"][kind] += int(written.sum())
        exp["filter"][kind][0] += int(written.sum())
        exp["filter"][kind][1] += int(kept.sum())
        if kind != "daily":
            continue
        for d, c in zip(*np.unique(day[kept], return_counts=True)):
            exp["daily_rows_after_filter"][d] = \
                exp["daily_rows_after_filter"].get(d, 0) + int(c)
        for key, c in zip(*np.unique(
                f[COL["EventRootCode"]][kept & strat_match(f, null)].astype(str),
                return_counts=True)):
            key = key or "__NA__"
            exp["strata"][key] = exp["strata"].get(key, 0) + int(c)

    exp["samples"] = {
        "indexed": INDEXED_N,
        "daily": sum(min(c, PER_DAY)
                     for c in exp["daily_rows_after_filter"].values()),
        "stratified": sum(min(c, PER_STRATUM) for c in exp["strata"].values()),
    }
    exp["params"] = {"indexed_n": INDEXED_N, "per_day": PER_DAY,
                     "per_stratum": PER_STRATUM,
                     "strat_filter": json.dumps(STRAT_FILTER),
                     "range_filter": json.dumps(
                         {"Day": {"op": "between", "min": RANGE[0],
                                  "max": RANGE[1]}})}
    exp["files"] = {kind: sorted(os.path.join(raw, nm)
                                 for nm, k, *_ in files if k == kind)
                    for kind in ("daily", "monthly", "yearly")}
    with open(os.path.join(a.out, "expected.json"), "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)


def strat_match(f, null):
    """STRAT_FILTER on the typed (post-coerce) rows, SQL null semantics:
    a comparison with a null is not true."""
    def num(c):
        return pd.to_numeric(pd.Series(f[COL[c]].astype(str)),
                             errors="coerce").to_numpy()
    q, g, m = num("QuadClass"), num("GoldsteinScale"), num("NumMentions")
    either = (~null["QuadClass"] & np.isin(q, [1.0, 4.0])) | \
        (~null["GoldsteinScale"] & (g > 5.0))
    return either & ~null["NumMentions"] & (m >= 2) & (m <= 60)


if __name__ == "__main__":
    main()
