"""Seeded EEA-shaped CSV generator and the independent expected-state oracle
for the `emissions_pipeline` workload.

The generator writes one bulk file and a sequence of delta files per round.
Every round starts from an empty warehouse, loads the bulk file and then its
own deltas, so a round's expected state is a pure function of the seed.

The oracle is a plain last-write-wins fold over the generated rows. It applies
the pipeline's reject rules itself:

* P2: a row with an empty field in any of the six projected columns is dropped;
* P3: only the total-GHG gas row of one of the 30 decoded country codes is kept.

Reported values are whole multiples of 1/4, so every sum the readbacks take is
exact in binary floating point and expected answers compare exactly.
"""
import random

import stats

HEADER = ["CountryCode", "Year", "Scenario", "Category", "Gas", "Reported Value"]

COUNTRIES = {
    "AT": "Austria", "BE": "Belgium", "BG": "Bulgaria", "CH": "Switzerland",
    "CY": "Cyprus", "CZ": "Czech Republic", "DE": "Germany", "DK": "Denmark",
    "EE": "Estonia", "ES": "Spain", "FI": "Finland", "FR": "France",
    "GR": "Greece", "HR": "Croatia", "HU": "Hungary", "IE": "Ireland",
    "IS": "Iceland", "IT": "Italy", "LT": "Lithuania", "LU": "Luxembourg",
    "LV": "Latvia", "MT": "Malta", "NL": "Netherlands", "NO": "Norway",
    "PL": "Poland", "PT": "Portugal", "RO": "Romania", "SE": "Sweden",
    "SI": "Slovenia", "SK": "Slovakia"}
NON_EU = ["GB", "TR", "UA", "RS", "US", "EU27"]
YEARS = list(range(2015, 2051))
SCENARIOS = ["WEM", "WOM", "WAM"]
TOP_CATEGORIES = ["Energy", "Industrial Processes", "Agriculture", "LULUCF", "Waste"]
TOTAL_GAS = "Total GHG emissions (ktCO2e)"
OTHER_GASES = ["CO2 (ktCO2)", "CH4 (ktCO2e)", "N2O (ktCO2e)"]
CLEAN_GAS = "Total GHG emissions"
UNIT = "kt CO2 equivalent"
LOOKUPS = 1  # point lookups per file, on keys the file wrote (added first)


def categories(sub_codes):
    """The 5 categories, each expanded by `sub_codes` sub-category codes."""
    out = []
    for i, top in enumerate(TOP_CATEGORIES, start=1):
        out.append(f"{i}. {top}")
        out.extend(f"{i}.{chr(ord('A') + k)} {top}" for k in range(sub_codes - 1))
    return out


def key_space(sub_codes):
    """Every (code, year, scenario, category) the warehouse can hold."""
    cats = categories(sub_codes)
    return [(c, y, s, cat) for c in sorted(COUNTRIES) for y in YEARS
            for s in SCENARIOS for cat in cats]


def _value(rng):
    return rng.randrange(0, 800_000) / 4.0


def _fmt(v):
    return repr(float(v))


def _rejects(rng, live_keys, n):
    """`n` rows of every reject class: non-EU code, non-total gas, and an
    empty field in each projected column."""
    rows = []
    cats = sorted({k[3] for k in live_keys})
    for _ in range(n):
        code, year, scen, cat = rng.choice(live_keys)
        v = _fmt(_value(rng))
        rows.append([rng.choice(NON_EU), str(year), scen, cat, TOTAL_GAS, v])
        rows.append([code, str(year), scen, cat, rng.choice(OTHER_GASES), v])
        base = [code, str(year), scen, rng.choice(cats), TOTAL_GAS, v]
        for col in range(len(HEADER)):
            r = list(base)
            r[col] = ""
            rows.append(r)
    return rows


def bulk_rows(rng, keys):
    """Bulk file: every gas for each key, non-EU rows, null-key rows."""
    rows = []
    for code, year, scen, cat in keys:
        rows.append([code, str(year), scen, cat, TOTAL_GAS, _fmt(_value(rng))])
        for gas in OTHER_GASES:
            rows.append([code, str(year), scen, cat, gas, _fmt(_value(rng))])
    for code in NON_EU:
        for _ in range(len(keys) // 200):
            _, year, scen, cat = rng.choice(keys)
            rows.append([code, str(year), scen, cat, TOTAL_GAS, _fmt(_value(rng))])
    rows.extend(_rejects(rng, keys, max(1, len(keys) // 500)))
    rng.shuffle(rows)
    return rows


def delta_rows(rng, live_keys, free_keys, update_share, new_keys, repeats):
    """One delta: updates ~`update_share` of the live keys, adds `new_keys`
    unseen keys, repeats `repeats` rows verbatim inside the file (re-delivery
    of the same row), and carries every reject class. Returns
    (rows, keys added, the keys the point lookups read)."""
    n_upd = max(1, int(len(live_keys) * update_share))
    upd = rng.sample(live_keys, n_upd)
    added = [free_keys.pop() for _ in range(min(new_keys, len(free_keys)))]
    rows = [[c, str(y), s, cat, TOTAL_GAS, _fmt(_value(rng))]
            for c, y, s, cat in upd + added]
    rows.extend(list(r) for r in rng.sample(rows, min(repeats, len(rows))))
    rows.extend(_rejects(rng, live_keys, 2))
    rng.shuffle(rows)
    return rows, added, (added + upd)[:LOOKUPS]


def fold(state, rows):
    """The oracle: last-write-wins fold of CSV rows (file order) into
    `state`, a dict from the warehouse key to ReportedValue. Returns state."""
    for r in rows:
        if any(f == "" for f in r):
            continue                                   # P2
        code, year, scen, cat, gas, val = r
        if gas != TOTAL_GAS or code not in COUNTRIES:
            continue                                   # P3
        state[(COUNTRIES[code], int(year), scen, cat, CLEAN_GAS, UNIT)] = float(val)
    return state


def fingerprint(rows):
    """Order-insensitive fingerprint of rows of fields, in the form the JVM
    side compares: [row count, hash sum as a decimal string]. Sums are exact
    multiples of 1/4, so they enter as integer quarters."""
    n, total = stats.fingerprint("|".join(r) for r in rows)
    return [n, str(total)]


def expected_readbacks(state, lookup_keys):
    """Expected answers of the readback queries over `state`: the point
    lookups of `lookup_keys`, the group-by and the trend."""
    by_cys = {}
    by_trend = {}
    for (country, year, scen, cat, _gas, _unit), v in state.items():
        k = (country, year, scen)
        by_cys[k] = by_cys.get(k, 0.0) + v
        if scen == "WEM":
            t = (cat, year)
            by_trend[t] = by_trend.get(t, 0.0) + v
    groupby = fingerprint([c, str(y), s, str(int(v * 4))]
                          for (c, y, s), v in by_cys.items())
    trend = fingerprint([cat, str(y), str(int(v * 4))]
                        for (cat, y), v in by_trend.items())
    lookups = [{"country": COUNTRIES[code], "year": year, "scenario": scen,
                "category": cat,
                "value": state[(COUNTRIES[code], year, scen, cat, CLEAN_GAS, UNIT)]}
               for code, year, scen, cat in lookup_keys]
    return {"groupby": groupby, "trend": trend, "lookups": lookups}


def write_csv(path, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(HEADER) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def generate(out_dir, seed, sub_codes, bulk_share, rounds, deltas_per_round,
             update_share=0.01, new_keys=20, repeats=10):
    """Write every round's files into `out_dir` and return the plan the JVM
    side follows: per round, the file names in load order with each step's
    expected readbacks and raw row counts."""
    rng = random.Random(seed)
    space = key_space(sub_codes)
    rng.shuffle(space)
    n_bulk = int(len(space) * bulk_share)
    bulk_keys, spare = space[:n_bulk], space[n_bulk:]
    bulk = bulk_rows(rng, bulk_keys)
    write_csv(f"{out_dir}/bulk.csv", bulk)
    base_state = fold({}, bulk)
    plan = {"bulk": {"file": "bulk.csv", "raw_rows": len(bulk),
                     "expect": expected_readbacks(base_state, bulk_keys[:LOOKUPS])},
            "rounds": []}
    for r in range(rounds):
        state = dict(base_state)
        live = list(bulk_keys)
        free = list(spare)
        rng.shuffle(free)
        steps = []
        for d in range(deltas_per_round):
            rows, added, lks = delta_rows(rng, live, free, update_share,
                                         new_keys, repeats)
            live.extend(added)
            name = f"delta_r{r:03d}_{d:03d}.csv"
            write_csv(f"{out_dir}/{name}", rows)
            fold(state, rows)
            steps.append({"file": name, "raw_rows": len(rows),
                          "expect": expected_readbacks(state, lks)})
        plan["rounds"].append(steps)
    return plan
