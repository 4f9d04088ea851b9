"""Correctness checks of every timed operation's answer.

Each check returns None when the answer is right and a one-line reason
when it is not; a wrong answer counts as a failed operation, like one
that threw. The checks run after the engine's JVM has exited, so they are
outside every timed region.
"""
import json
import os

import gen

SCALE = gen.COST_SCALE

# The declared c-family queries sql_serving serves, one per request
# cycle in turn: the aggregate and the star-join dashboard shapes.
C_SERVED = ["c07_groupby_agg", "c11_join_star_agg"]


def _units(v):
    """A cost sum in 1/1024 units; exact because every cost is."""
    if v is None:
        return 0
    u = v * SCALE
    return int(u) if u == int(u) else u


def costs_verdict(rows, expect):
    got = {(r[0], r[1], r[2], r[3], r[4]): [r[5], _units(r[6])] for r in rows}
    want = {k: [n, s or 0] for k, (n, s) in expect.items()}
    if got == want:
        return None
    missing = sorted(set(want) - set(got), key=str)[:2]
    extra = sorted(set(got) - set(want), key=str)[:2]
    diff = [k for k in set(got) & set(want) if got[k] != want[k]][:2]
    return (f"costs differ: {len(missing)} missing e.g. {missing}, extra e.g. {extra}, "
            f"changed e.g. {[(k, got[k], want[k]) for k in diff]}")


def serving_verdict(kind, answer, expect):
    if kind == "D1":
        got = {r[0]: _units(r[1]) for r in answer}
        return None if got == expect else f"D1 totals differ: {got} != {expect}"
    if kind == "D2":
        got = {r[0]: [r[1], _units(r[2])] for r in answer}
        return None if got == expect else f"D2 totals differ: {got} != {expect}"
    if kind == "D3":
        got = [(r[0], _units(r[1])) for r in answer]
        want = sorted(expect.items())
        return None if got == want else "D3 daily trend differs"
    if kind == "D4":
        if len(answer) != expect["rows"]:
            return f"D4 returned {len(answer)} rows"
        bad = [a for a in answer if a not in gen.REGISTRY]
        return f"D4 rows of non-registry accounts {bad[:3]}" if bad else None
    if kind == "D5":
        got = {r[0]: r[1] for r in answer}
        if any(r[2] != "success" for r in answer):
            return f"D5 status not success: {answer}"
        return None if got == expect else f"D5 sync_log differs: {got} != {expect}"
    raise ValueError(kind)


def _canon(df):
    import pandas as pd
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
    return df.reset_index(drop=True)


def _frame_verdict(a, b):
    """Exact comparison of two result frames, columns sorted by name and
    rows in the query's declared order; floats compare bit for bit."""
    import pandas as pd
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            eq = (av.astype("float64").fillna(-0.123456789e300)
                  == bv.astype("float64").fillna(-0.123456789e300))
        elif av.dtype == object or bv.dtype == object:
            eq = av.map(repr) == bv.map(repr)
        else:
            eq = (av.isna() & bv.isna()) | (av == bv)
        if not bool(eq.all()):
            i = int((~eq).values.argmax())
            return f"column {c} row {i}: {av.iloc[i]!r} != {bv.iloc[i]!r}"
    return None


def oracle_verdicts(answers_dir, tables_dir):
    """Compare each c-family query's first answer with its DuckDB oracle
    over the same generated tables."""
    if not answers_dir or not os.path.isdir(answers_dir):
        return {}
    import duckdb
    import pandas as pd
    with open(os.path.join(answers_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in os.listdir(tables_dir):
        con.sql(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM "
                f"'{os.path.join(tables_dir, t)}'")
    out = {}
    for name in sorted(os.listdir(answers_dir)):
        qdir = os.path.join(answers_dir, name)
        if not os.path.isdir(qdir):
            continue
        if name not in oracles:
            out[name] = f"{name}: no oracle SQL"
            continue
        try:
            got = pd.read_parquet(qdir)
            want = con.sql(oracles[name]).df()
            v = _frame_verdict(_canon(got), _canon(want))
        except Exception as e:  # an unreadable answer or oracle error fails the query
            v = f"{type(e).__name__}: {e}"
        out[name] = None if v is None else f"{name} vs oracle: {v}"
    return out


def sync_verdict(result, expect):
    if "error" in result:
        return f"threw: {result['error']}"
    bad = [s for s in result["status"] if not s.endswith(":success")]
    return f"table status {bad}" if bad else costs_verdict(result["costs"], expect)


def corpus_verdict(answer, corpus):
    """Every output chunk belongs to an input document, and each
    exact-duplicate group keeps exactly one member."""
    ids = set(answer["doc_ids"])
    stray = ids - set(corpus["doc_ids"])
    if stray:
        return f"chunks of unknown documents {sorted(stray)[:3]}"
    kept = [len(ids & set(g)) for g in corpus["exact_groups"]]
    if any(k != 1 for k in kept):
        return f"exact-duplicate groups keep {kept} members, expected 1 each"
    return None


def check_ops(workload, out, book, answers_dir=None, tables_dir=None):
    """One verdict per checked operation, in order. For sql_serving the
    set-up's sync and corpus preparation come first."""
    verdicts = []
    oracle = {}
    if workload == "sql_serving":
        oracle = oracle_verdicts(answers_dir, tables_dir)
        verdicts.append(sync_verdict(out["setup"]["sync"], book["expect_sync"]))
        corpus = out["setup"]["corpus"]
        verdicts.append(f"threw: {corpus['error']}" if "error" in corpus
                        else corpus_verdict(corpus, book["corpus"]))
    for op in out["ops"]:
        if op.get("error"):
            verdicts.append(f"threw: {op['error']}")
            continue
        a = op["answer"]
        if workload == "sql_serving":
            req = book["requests"][op["req"]]
            if op["kind"] == "c":
                v = ("answer differs from the query's first answer" if a == "differs"
                     else oracle.get(req["name"], f"{req['name']}: no oracle check ran"))
            else:
                v = serving_verdict(op["kind"], a, req["expect"])
        elif workload == "corpus_prep":
            v = corpus_verdict(a, book["corpus"])
        else:
            s = book["stream"]
            got = {(r[0], r[1], r[2]): [r[3], _units(r[4])] for r in a["costs"]}
            want = {k: list(v) for k, v in s["expect"].items()}
            v = (f"raw rows {a['raw_rows']} != {s['rows']} distinct" if a["raw_rows"] != s["rows"]
                 else None if got == want else "per-(service, month) costs differ")
        verdicts.append(v)
    return verdicts
