"""Seeded input generators. The same seed gives byte-identical files.

loan_csv      the paper's loan table: the 34 columns of the pinned
              `Tables.loanSchema`, with the domains, null rates and the
              literal `NA` string of FIXTURES.md section 1. The label is
              drawn from the fixed logistic model LABEL_MODEL below; a
              truth file beside the CSV (never shown to the engine)
              carries each row's generating probability for the AUC gate.
relabel_docs  the base documents corpus with a seeded bijective doc_id
              relabel: same schema, same multiset of texts, different
              shard membership, holdout set (doc_id % 19) and
              keep-min-id ties.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DOCS = os.path.join(HERE, "data", "documents.parquet")

LOAN_ROWS = 100_000

# The label model: logit = intercept + sum(weight * (x - center) / scale)
# over the six feature columns, evaluated on the values before nulls
# are punched in. Fixed before the benchmark first ran; not tuned.
LABEL_MODEL = {
    "intercept": -1.20,
    "loan_amount": (0.50, 334_088.0, 180_000.0),
    "rate_of_interest": (0.30, 4.02, 0.55),
    "property_value": (-0.20, 487_120.0, 300_000.0),
    "income": (-0.30, 6_911.0, 5_000.0),
    "Credit_Score": (-0.80, 700.0, 115.0),
    "LTV": (0.30, 73.87, 18.0),
}

# Null rates per 999 rows of the reference table (FIXTURES.md section 1).
NULLS_PER_999 = {"loan_limit": 24, "approv_in_adv": 5,
                 "rate_of_interest": 257, "Interest_rate_spread": 259,
                 "Upfront_charges": 288, "property_value": 101,
                 "income": 76, "age": 2, "dtir1": 175}

COLUMNS = [
    "ID", "year", "loan_limit", "Gender", "approv_in_adv", "loan_type",
    "loan_purpose", "Credit_Worthiness", "open_credit",
    "business_or_commercial", "loan_amount", "rate_of_interest",
    "Interest_rate_spread", "Upfront_charges", "term", "Neg_ammortization",
    "interest_only", "lump_sum_payment", "property_value",
    "construction_type", "occupancy_type", "Secured_by", "total_units",
    "income", "credit_type", "Credit_Score", "co-applicant_credit_type",
    "age", "submission_of_application", "LTV", "Region", "Security_Type",
    "Status", "dtir1"]


def _choice(rng, n, values, probs):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=probs)]


def loan_table(seed, rows=LOAN_ROWS):
    """(table, truth): the loan table and (ID, Status, p_true)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = rows
    amount = np.clip(np.round(rng.lognormal(12.55, 0.55, n) / 10_000) * 10_000 + 6_500,
                     26_500, 1_506_500).astype(np.int64)
    rate = np.round(np.clip(rng.normal(4.02, 0.55, n), 2.75, 5.75), 3)
    ltv = np.round(np.clip(rng.normal(73.87, 18.0, n), 2.81, 111.05), 4)
    prop = np.clip(np.round(amount / (ltv / 100.0) / 1_000) * 1_000 + 8_000,
                   68_000, 3_848_000).astype(np.int64)
    income = np.where(rng.random(n) < 0.01, 0,
                      np.clip(np.round(rng.lognormal(8.65, 0.6, n) / 60) * 60, 0, 78_120)
                      ).astype(np.int64)
    score = rng.integers(500, 901, n)

    m = LABEL_MODEL
    logit = np.full(n, m["intercept"])
    for name, x in (("loan_amount", amount), ("rate_of_interest", rate),
                    ("property_value", prop), ("income", income),
                    ("Credit_Score", score), ("LTV", ltv)):
        w, center, scale = m[name]
        logit += w * (x - center) / scale
    p_true = 1.0 / (1.0 + np.exp(-logit))
    status = (rng.random(n) < p_true).astype(np.int64)

    cols = {
        "ID": np.arange(24_890, 24_890 + n, dtype=np.int64),
        "year": np.full(n, 2019, dtype=np.int64),
        "loan_limit": _choice(rng, n, ["cf", "ncf"], [0.93, 0.07]),
        "Gender": _choice(rng, n, ["Male", "Female", "Joint", "Sex Not Available"],
                          [0.29, 0.19, 0.28, 0.24]),
        "approv_in_adv": _choice(rng, n, ["nopre", "pre"], [0.84, 0.16]),
        "loan_type": _choice(rng, n, ["type1", "type2", "type3"], [0.76, 0.14, 0.10]),
        "loan_purpose": _choice(rng, n, ["p1", "p2", "p3", "p4"], [0.23, 0.02, 0.38, 0.37]),
        "Credit_Worthiness": _choice(rng, n, ["l1", "l2"], [0.96, 0.04]),
        "open_credit": _choice(rng, n, ["nopc", "opc"], [0.996, 0.004]),
        "business_or_commercial": _choice(rng, n, ["nob/c", "b/c"], [0.86, 0.14]),
        "loan_amount": amount,
        "rate_of_interest": rate,
        "Interest_rate_spread": np.round(rng.normal(0.44, 0.5, n), 4),
        "Upfront_charges": np.round(rng.exponential(3_200.0, n), 2),
        "term": _choice(rng, n, [360, 180, 240, 300, 120, 96],
                        [0.83, 0.08, 0.04, 0.02, 0.02, 0.01]).astype(np.int64),
        "Neg_ammortization": _choice(rng, n, ["not_neg", "neg_amm"], [0.9, 0.1]),
        "interest_only": _choice(rng, n, ["not_int", "int_only"], [0.95, 0.05]),
        "lump_sum_payment": _choice(rng, n, ["not_lpsm", "lpsm"], [0.98, 0.02]),
        "property_value": prop,
        "construction_type": np.full(n, "sb", dtype=object),
        "occupancy_type": _choice(rng, n, ["pr", "sr", "ir"], [0.93, 0.02, 0.05]),
        "Secured_by": np.full(n, "home", dtype=object),
        "total_units": _choice(rng, n, ["1U", "2U", "3U", "4U"], [0.985, 0.01, 0.003, 0.002]),
        "income": income,
        "credit_type": _choice(rng, n, ["CIB", "CRIF", "EXP", "EQUI"], [0.32, 0.30, 0.28, 0.10]),
        "Credit_Score": score.astype(np.int64),
        "co-applicant_credit_type": _choice(rng, n, ["CIB", "EXP"], [0.5, 0.5]),
        "age": _choice(rng, n, ["<25", "25-34", "35-44", "45-54", "55-64", "65-74", ">74"],
                       [0.01, 0.13, 0.22, 0.23, 0.22, 0.14, 0.05]),
        "submission_of_application": _choice(rng, n, ["to_inst", "not_inst", "NA"],
                                             [0.64, 0.35, 0.01]),
        "LTV": ltv,
        "Region": _choice(rng, n, ["North", "south", "central", "North-East"],
                          [0.50, 0.43, 0.06, 0.01]),
        "Security_Type": np.full(n, "direct", dtype=object),
        "Status": status,
        "dtir1": np.clip(np.round(rng.normal(38.0, 10.0, n)), 5, 61).astype(np.int64),
    }
    masks = {c: rng.random(n) < k / 999.0 for c, k in NULLS_PER_999.items()}
    # LTV is missing exactly where the property value is
    masks["LTV"] = masks["property_value"]
    arrays = []
    for c in COLUMNS:
        v = cols[c]
        typ = pa.string() if v.dtype == object else (
            pa.float64() if v.dtype.kind == "f" else pa.int32())
        arrays.append(pa.array(v, type=typ, mask=masks.get(c)))
    table = pa.Table.from_arrays(arrays, names=COLUMNS)
    truth = pa.Table.from_arrays(
        [pa.array(cols["ID"], pa.int32()), pa.array(status, pa.int32()),
         pa.array(p_true, pa.float64())], names=["ID", "Status", "p_true"])
    return table, truth


def write_loan(seed, out_dir, rows=LOAN_ROWS):
    """Write loan.csv (the engine's input) and loan_truth.csv."""
    table, truth = loan_table(seed, rows)
    opts = pacsv.WriteOptions(include_header=True, quoting_style="none")
    pacsv.write_csv(table, os.path.join(out_dir, "loan.csv"), opts)
    pacsv.write_csv(truth, os.path.join(out_dir, "loan_truth.csv"), opts)
    return table.num_rows


def relabel_docs(seed, out_dir, base=BASE_DOCS):
    """Write documents.parquet: the base corpus under a seeded
    permutation of its doc_id set, rows ordered by the new id."""
    t = pq.read_table(base)
    ids = t.column("doc_id").to_numpy()
    order = np.argsort(ids, kind="stable")
    perm = np.random.Generator(np.random.PCG64(seed)).permutation(len(ids))
    new_ids = np.empty_like(ids)
    new_ids[order] = ids[order][perm]
    t = t.set_column(t.schema.get_field_index("doc_id"), t.schema.field("doc_id"),
                     pa.array(new_ids, pa.int64()))
    t = t.take(pa.array(np.argsort(new_ids, kind="stable")))
    pq.write_table(t, os.path.join(out_dir, "documents.parquet"))
    return t.num_rows
