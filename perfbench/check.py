"""Output checks for the benchmark. Each returns the names of the
operations whose output is wrong, with a reason, so a wrong result counts
as a failed operation.

* Query keys: each key's parquet output against the DuckDB run of its
  ``SparkEntry.oracleSql`` text over the same generated tables, compared
  the way the project's oracle self-check compares them (columns by name,
  rows sorted by every column, values exact).
* ETL: the warehouse table against the paper's pandas ETL re-run on the
  same CSVs, its row count against the generator's distinct-pair count, no
  null ids, and the lookup scores against the reference scorer; for seeds
  listed in ``golden.json``, the expected table and scores must also have
  the digests recorded there, so a drift in the generator or the reference
  shows.
* Stream: each operator's final state against a batch recomputation over
  the same feed.
"""
import decimal
import hashlib
import html
import json
import os
import re

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].dt.tz_localize(None) if df[c].dt.tz else df[c]
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _differs(a, b):
    """Why canonical frames ``a`` and ``b`` differ, or None."""
    a, b = _canon(a.copy()), _canon(b.copy())
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    kinds = [c for c in a.columns if a[c].dtype.kind != b[c].dtype.kind]
    if kinds:
        return f"column kinds differ: {kinds}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return "values: " + str(e).split("\n")[0]
    return None


def keys(data_dir, out_dir, keys, oracle):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for k in keys:
        if k not in oracle:
            bad[k] = "no oracle SQL"
            continue
        try:
            got = pd.read_parquet(os.path.join(out_dir, k))
        except Exception as e:  # noqa: BLE001 - any unreadable output fails
            bad[k] = f"no output ({e})"
            continue
        why = _differs(got, con.execute(oracle[k]).fetchdf())
        if why:
            bad[k] = why
    return bad


# --- the paper's ETL, in pandas, as the reference wrote it ---------------

VOWELS = "aoueiyаяєоуиіїе"
NAME_JUNK = re.compile(
    rf"\d|\s|^(-)$|(^\w{{1}}$)|(^[{VOWELS}]{{0,}}$)|(^[^{VOWELS}]{{0,}}$)")


def clean_name(s):
    s = re.sub(r"\d", "", html.unescape(s).lower())
    return NAME_JUNK.sub("", s)


def reference_etl(csv_dir):
    o = pd.read_csv(os.path.join(csv_dir, "orders.csv"), dtype=str,
                    keep_default_na=False).iloc[:, 1:]
    o = pd.DataFrame({
        "order_source_id": o["order_source_id"].astype("int64"),
        "order_created_datetime": pd.to_datetime(o["order_created_datetime"]),
        "customer_id": o["customer_id"].astype("int64"),
        "status": o["status"],
        "sum": o["sum"].str.replace(",", ".").astype("float64"),
        "quantity": o["quantity"].astype("int64"),
        "name": o["name"], "surname": o["surname"],
        "patronymic": o["patronymic"],
        "product_id": o["product_id"].str.replace(r"\D", "", regex=True)
                                     .astype("int64")})
    o = o.drop_duplicates(["order_source_id", "product_id"], keep="first")
    for c in ("name", "surname", "patronymic"):
        o[c] = o[c].map({v: clean_name(v) for v in o[c].unique()})
    p = pd.read_csv(os.path.join(csv_dir, "products.csv"), dtype=str,
                    keep_default_na=False)
    p = pd.DataFrame({"product_id": p["product_id"].astype("int64"),
                      "price": p["price"].astype("float64"),
                      "goods_group": p["goods_group"],
                      "manufacturer": p["manufacturer"]})
    p = p.drop_duplicates(["product_id"], keep="first")
    return o.merge(p, how="left", on="product_id"), p


def score(t, c):
    """Reference scorer, rounded half-even at five places like Spark's
    ``bround`` (on the shortest decimal form of the double)."""
    s = 0.0
    if c.goods_group == t.goods_group:
        s += 0.5
    if c.manufacturer == t.manufacturer:
        s += 0.2
    s += (1 - abs(t.price - c.price) / max(t.price, c.price)) * 0.3
    return float(decimal.Decimal(repr(s)).quantize(
        decimal.Decimal("0.00001"), rounding=decimal.ROUND_HALF_EVEN))


def _digest(df):
    return hashlib.sha256(
        _canon(df.copy()).to_csv(index=False).encode()).hexdigest()[:16]


def etl(csv_dir, facts, lookups, distinct_pairs, golden):
    """Failures of the ETL outputs, keyed by operation ("load" or a lookup),
    and the digests of the expected table and scores. ``golden``, when
    given, holds the digests this seed's expected outputs must have."""
    bad = {}
    want, products = reference_etl(csv_dir)
    got = pd.read_parquet(facts["warehouse"])
    if len(got) != distinct_pairs:
        bad["load"] = f"rows {len(got)} vs {distinct_pairs} distinct pairs"
    elif got[["order_source_id", "product_id"]].isna().any().any():
        bad["load"] = "null ids"
    else:
        why = _differs(got, want)
        if why:
            bad["load"] = why
    by_id = products.set_index("product_id")
    expected = []
    for i, (got_scores, (target, cands)) in enumerate(
            zip(facts["scores"], lookups)):
        t = by_id.loc[target]
        exp = {str(c): score(t, by_id.loc[c]) for c in cands}
        expected.append(exp)
        if got_scores != exp:
            bad[f"lookup{i}"] = f"scores {got_scores} vs {exp}"
    digests = {"table": _digest(want),
               "scores": hashlib.sha256(json.dumps(
                   expected, sort_keys=True).encode()).hexdigest()[:16]}
    for k, v in (golden or {}).items():
        if digests[k] != v:
            bad["load" if k == "table" else "lookup0"] = (
                f"expected {k} digest {digests[k]}, golden {v}")
    return bad, digests


# --- the stream's final state against a batch recomputation --------------

def _last(df, key):
    return df.sort_values("batch_id").groupby(key, as_index=False).last()


def _close(a, b, tol=1e-6):
    return bool(((a - b).abs() <= tol * (1 + b.abs())).all())


def stream(feed_dir, out_dir):
    f = pd.read_parquet(os.path.join(feed_dir, "events.parquet"))
    f["us"] = f["ts"].astype("datetime64[us]").astype("int64")
    f = f.sort_values(["us", "event_id"], kind="stable", ignore_index=True)
    bad = {}

    def read(name):
        return pd.read_parquet(os.path.join(out_dir, "stream", name))

    # tumbling one-hour counts per event type
    try:
        got = _last(read("tumbling_counts"), ["window_start", "event_type"])
        hour = 3_600_000_000
        exp = f.assign(w=f["us"] // hour * hour).groupby(
            ["w", "event_type"], as_index=False).agg(
            n=("value", "size"), s=("value", "sum"))
        got["w"] = got["window_start"].astype("datetime64[us]").astype("int64")
        m = exp.merge(got, on=["w", "event_type"], how="outer")
        if len(m) != len(exp) or not (m["n_x"] == m["n_y"]).all() or \
                not ((m["s"].round(2) - m["sum_value"]).abs() <= 0.011).all():
            bad["tumbling_counts"] = "counts differ from the batch recount"
    except Exception as e:  # noqa: BLE001
        bad["tumbling_counts"] = str(e)
    # exact dedup on event id
    try:
        got = read("dedup_events")
        if len(got) != f["event_id"].nunique() or \
                got["event_id"].nunique() != len(got):
            bad["dedup_events"] = (f"{len(got)} rows, "
                                   f"{f['event_id'].nunique()} distinct ids")
    except Exception as e:  # noqa: BLE001
        bad["dedup_events"] = str(e)
    # gap sessions (30 min), every one closed except the closing user's
    try:
        got = read("sessionize_tws")
        gap = 30 * 60 * 1_000_000
        rows = []
        for uid, g in f[f["user_id"] >= 0].groupby("user_id"):
            start = end = None
            n = s = 0
            for us, v in zip(g["us"], g["value"]):
                if start is not None and us > end + gap:
                    rows.append((uid, start, end, n, s))
                    start = None
                if start is None:
                    start, end, n, s = us, us, 0, 0.0
                end, n, s = us, n + 1, s + v
            rows.append((uid, start, end, n, s))
        exp = pd.DataFrame(rows, columns=["user_id", "session_start_us",
                                          "session_end_us", "n_events", "s"])
        k = ["user_id", "session_start_us", "session_end_us", "n_events"]
        m = exp.merge(got, on=k, how="outer")
        if len(m) != len(exp) or len(got) != len(exp) or \
                not _close(m["sum_value"], m["s"]):
            bad["sessionize_tws"] = (f"{len(got)} sessions vs {len(exp)} "
                                     "from the batch recount")
    except Exception as e:  # noqa: BLE001
        bad["sessionize_tws"] = str(e)
    # per-user profiles
    try:
        got = _last(read("user_profiles_tws"), "user_id")
        exp = f.groupby("user_id", as_index=False).agg(
            n=("value", "size"),
            p=("event_type", lambda x: int((x == "purchase").sum())),
            s=("value", "sum"), last=("us", "max"))
        m = exp.merge(got, on="user_id", how="outer")
        if len(m) != len(exp) or not (m["n"] == m["n_events"]).all() or \
                not (m["p"] == m["n_purchases"]).all() or \
                not (m["last"] == m["last_seen_micros"]).all() or \
                not _close(m["sum_value"], m["s"]):
            bad["user_profiles_tws"] = "profiles differ from the batch recount"
    except Exception as e:  # noqa: BLE001
        bad["user_profiles_tws"] = str(e)
    return bad
