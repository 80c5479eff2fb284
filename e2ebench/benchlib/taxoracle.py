"""Expected tax_cli outputs, computed in DuckDB from the generator's clean rows.

The SQL mirrors `OracleSql.taxCte` and `refundsCte` (the repo's own oracle
for `TaxCalc.withTax` and `Refunds.overpayments`) and adds the branch those
CTEs leave out: a state missing from the rate table is neither taxed nor
exempt. Dimension data comes from the engine's fixtures in
`src/test/resources/taxdata`, never from the Spark run.
"""
from decimal import Decimal

import duckdb

DEFAULT_SOL_YEARS = 3  # TaxDims.defaultSolYears

TAXCALC = """
WITH txns AS (
  SELECT transaction_id, CAST(transaction_date AS DATE) AS transaction_date,
    CAST(CAST(amount_cents AS DECIMAL(18,0)) * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,2)) AS amount,
    state, city, item_category,
    CAST(CAST(tax_paid_cents AS DECIMAL(18,0)) * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,2)) AS tax_paid
  FROM clean
),
states AS (SELECT * FROM read_parquet('{D}/state_rates.parquet')),
locals AS (SELECT state_code, city_lc, rate FROM read_parquet('{D}/local_rates.parquet')),
exsyncat AS (
  SELECT e.state_code, c.synonym, e.category
  FROM read_parquet('{D}/state_exemptions.parquet') e
  JOIN read_parquet('{D}/category_synonyms.parquet') c USING (category)
),
flags AS (
  SELECT t.*, s.state_code IS NULL AS unknown,
    (s.base_rate = CAST(0 AS DECIMAL(10,6)) AND NOT s.has_local_taxes) AS no_tax,
    (ex.category IS NOT NULL) AS cat_ex,
    s.base_rate,
    CASE WHEN lr.rate IS NOT NULL THEN CAST(lr.rate AS DECIMAL(11,6))
         WHEN s.has_local_taxes THEN
           (CASE WHEN s.avg_combined_rate - s.base_rate > CAST(0 AS DECIMAL(11,6))
                 THEN s.avg_combined_rate - s.base_rate
                 ELSE CAST(0 AS DECIMAL(11,6)) END)
         ELSE CAST(0 AS DECIMAL(11,6)) END AS local_rate
  FROM txns t
  LEFT JOIN states s ON s.state_code = t.state
  LEFT JOIN locals lr ON lr.state_code = t.state AND lower(t.city) = lr.city_lc
  LEFT JOIN exsyncat ex ON ex.state_code = t.state AND t.item_category = ex.synonym
),
taxcalc AS (
  SELECT transaction_id, transaction_date, state, amount, tax_paid,
    (NOT unknown AND (no_tax OR cat_ex)) AS is_exempt,
    CAST(CASE WHEN unknown OR no_tax OR cat_ex THEN 0
         ELSE round(amount * base_rate, 2) + round(amount * local_rate, 2)
         END AS DECIMAL(18,2)) AS tax_amount
  FROM flags
),
refunds AS (
  SELECT t.state, CAST(round(coalesce(t.tax_paid, 0) - t.tax_amount, 2) AS DECIMAL(18,2)) AS overpayment,
    t.transaction_date >= make_date({Y} - coalesce(s.years, {SOL}), {M}, {DAY}) AS eligible
  FROM taxcalc t
  LEFT JOIN read_parquet('{D}/sol_years.parquet') s ON s.state_code = t.state
  WHERE round(coalesce(t.tax_paid, 0) - t.tax_amount, 2) > 0
)
"""


def expected(clean, taxdata, as_of):
    """Every figure the tax_cli gate compares, as exact Decimals."""
    con = duckdb.connect()
    con.register("clean", clean)
    head = TAXCALC.format(D=taxdata, Y=as_of.year, M=as_of.month, DAY=as_of.day,
                          SOL=DEFAULT_SOL_YEARS)

    def rows(select):
        return con.sql(head + select).fetchall()

    (n, taxable, tax, exempt, n_exempt), = rows("""
      SELECT count(*), sum(amount), sum(tax_amount),
             coalesce(sum(amount) FILTER (WHERE is_exempt), 0),
             count(*) FILTER (WHERE is_exempt)
      FROM taxcalc""")
    by_state = {st: {"n": c, "revenue": a, "tax": t} for st, c, a, t in rows(
        "SELECT state, count(*), sum(amount), sum(tax_amount) FROM taxcalc GROUP BY 1")}
    (n_over, over_sum, eligible_sum), = rows("""
      SELECT count(*), coalesce(sum(overpayment), 0),
             coalesce(sum(overpayment) FILTER (WHERE eligible), 0) FROM refunds""")
    claims = {st: (amt, c) for st, amt, c in rows(
        "SELECT state, sum(overpayment), count(*) FROM refunds WHERE eligible GROUP BY 1")}
    recovery = (Decimal(eligible_sum) * Decimal("0.85")).quantize(Decimal("0.01"), "ROUND_HALF_UP")
    return {"transactions": n, "total_taxable": taxable, "total_tax": tax,
            "total_exempt": exempt, "exempt_transactions": n_exempt,
            "states": by_state, "overpayments": n_over, "total_overpayment": over_sum,
            "estimated_recovery": recovery, "claims": claims}
