"""Seeded transactions CSV in the reference CLI's contract, with dirt.

Columns: transaction_id,transaction_date,amount,state,city,item_category,tax_paid.
Besides well-formed rows the file holds the dirt a real export has:
mixed-case and padded states, unknown states, padded and mixed-case
categories and synonyms, empty and padded cities, empty tax_paid, and
malformed rows (bad or empty amount, bad or empty date, empty state) that
`TaxCalc.readCsv` must drop. Every state, and the unknown-state default,
gets rows on both sides of its statute-of-limitations cutoff.

A malformed `tax_paid` is not written: the engine keeps such a row in every
command that does not read `tax_paid` (a known defect, probed apart by
`tax_cli.probe_malformed_paid`), so no command's output could be checked on it.

`generate` returns the clean rows too: the values each kept row should
normalize to. The oracle works from those and never parses the CSV.
"""
import duckdb
import numpy as np
import pandas as pd

UNKNOWN_STATES = ["ZZ", "XX", "QA"]
OTHER_CITIES = ["Springfield", "Riverton", "Fairview", "Georgetown"]
EXTRA_CATEGORIES = ["electronics", "furniture", "toys"]
PAID_RATES = [0, 600, 825, 850, 1000]  # basis points of the amount
DEFAULT_SOL_YEARS = 3  # TaxDims.defaultSolYears
MALFORMED_SHARE = 0.01  # of all rows


def load_dims(taxdata):
    """State codes, cities per state, category synonyms and SOL years from
    the engine's dimension fixtures (`src/test/resources/taxdata`)."""
    def q(sql):
        return duckdb.sql(sql.replace("$D", taxdata)).fetchall()
    states = [r[0] for r in q("SELECT state_code FROM read_parquet('$D/state_rates.parquet') ORDER BY 1")]
    cities = {}
    for st, city in q("SELECT state_code, jurisdiction FROM read_parquet('$D/local_rates.parquet') ORDER BY 1, 2"):
        cities.setdefault(st, []).append(city)
    synonyms = [r[0] for r in q("SELECT synonym FROM read_parquet('$D/category_synonyms.parquet') ORDER BY 1")]
    sol = dict(q("SELECT state_code, years FROM read_parquet('$D/sol_years.parquet')"))
    return {"states": states, "cities": cities, "synonyms": synonyms, "sol": sol}


def shift_years(d, years):
    """`d` moved back `years` calendar years, Feb 29 clamped to Feb 28."""
    y = d.year - years
    try:
        return d.replace(year=y)
    except ValueError:
        return d.replace(year=y, day=28)


def _vary_case(rng, values):
    """Each string as-is, lower-cased, title-cased or upper-cased."""
    pick = rng.integers(0, 4, len(values))
    out = values.copy()
    out[pick == 1] = np.char.lower(values[pick == 1].astype(str))
    out[pick == 2] = np.char.title(values[pick == 2].astype(str))
    out[pick == 3] = np.char.upper(values[pick == 3].astype(str))
    return out


def _pad(rng, values, share):
    hit = rng.random(len(values)) < share
    out = values.copy()
    out[hit] = np.char.add(np.char.add(" ", values[hit].astype(str)), "  ")
    return out


def generate(seed, n, as_of, dims):
    """Write nothing; return (csv_text, clean_rows, stats) for `n` rows."""
    rng = np.random.default_rng(seed)
    states = np.array(dims["states"] + UNKNOWN_STATES)
    # ~3% of rows carry an unknown state
    weights = np.r_[np.full(len(dims["states"]), 0.97 / len(dims["states"])),
                    np.full(len(UNKNOWN_STATES), 0.03 / len(UNKNOWN_STATES))]
    state = rng.choice(states, n, p=weights)

    # dates: spread over the 6 years before as_of; then rows pinned on and
    # around every SOL cutoff (each state's, and the default for the rest)
    span = 6 * 366
    date = np.datetime64(as_of) - rng.integers(0, span, n).astype("timedelta64[D]")
    pinned = []
    for st in states:
        cutoff = np.datetime64(shift_years(as_of, dims["sol"].get(st, DEFAULT_SOL_YEARS)))
        for off in (-1, 0, 1):
            pinned.append((st, cutoff + np.timedelta64(off, "D")))
    idx = rng.choice(n, len(pinned) * 4, replace=False)
    for k, i in enumerate(idx):
        state[i], date[i] = pinned[k % len(pinned)]

    cents = rng.integers(1, 500_000, n)
    paid_bp = rng.choice(PAID_RATES, n)
    paid = (cents * paid_bp + 5_000) // 10_000  # HALF_UP to the cent
    paid_empty = rng.random(n) < 0.08

    # cities: a local jurisdiction of the row's state, another city, or none
    city = np.full(n, "", dtype=object)
    kind = rng.random(n)
    for st, names in dims["cities"].items():
        m = (state == st) & (kind < 0.5)
        city[m] = rng.choice(names, m.sum())
    other = (kind >= 0.5) & (kind < 0.75)
    city[other] = rng.choice(OTHER_CITIES, other.sum())

    cats = np.array(dims["synonyms"] + EXTRA_CATEGORIES, dtype=object)
    category = rng.choice(cats, n)
    category[rng.random(n) < 0.12] = ""

    ids = np.char.add(f"T{seed}-", np.arange(n).astype(str))
    amount_txt = np.char.add(np.char.add((cents // 100).astype(str), "."),
                             np.char.zfill((cents % 100).astype(str), 2))
    paid_txt = np.char.add(np.char.add((paid // 100).astype(str), "."),
                           np.char.zfill((paid % 100).astype(str), 2)).astype(object)
    paid_txt[paid_empty] = ""
    date_txt = np.datetime_as_string(date, unit="D").astype(object)
    state_txt = _pad(rng, _vary_case(rng, state.astype(object)), 0.1)
    city_txt = _pad(rng, _vary_case(rng, city), 0.1)
    city_txt[city == ""] = np.where(rng.random((city == "").sum()) < 0.1, "  ", "")
    cat_txt = _pad(rng, _vary_case(rng, category), 0.1)
    cat_txt[category == ""] = ""

    # malformed rows: dropped by readCsv, so absent from the clean rows
    bad = rng.random(n) < MALFORMED_SHARE
    bad_kind = rng.integers(0, 5, n)
    amount_txt = amount_txt.astype(object)
    amount_txt[bad & (bad_kind == 0)] = "12.3.4"
    amount_txt[bad & (bad_kind == 1)] = ""
    date_txt[bad & (bad_kind == 2)] = "2024-13-40"
    date_txt[bad & (bad_kind == 3)] = ""
    state_txt[bad & (bad_kind == 4)] = ""

    csv = pd.DataFrame({
        "transaction_id": ids, "transaction_date": date_txt, "amount": amount_txt,
        "state": state_txt, "city": city_txt, "item_category": cat_txt,
        "tax_paid": paid_txt,
    }).to_csv(index=False, lineterminator="\n")

    keep = ~bad
    clean = pd.DataFrame({
        "transaction_id": ids[keep],
        "transaction_date": date[keep],
        "amount_cents": cents[keep],
        "state": state[keep],
        "city": pd.Series(city[keep]).replace("", None),
        "item_category": pd.Series(np.char.lower(category[keep].astype(str))).replace("", None),
        "tax_paid_cents": pd.Series(paid[keep]).where(~paid_empty[keep], None).astype("Int64"),
    })
    stats = {"rows": int(n), "kept": int(keep.sum()), "malformed": int(bad.sum()),
             "bytes": len(csv.encode())}
    return csv, clean, stats
