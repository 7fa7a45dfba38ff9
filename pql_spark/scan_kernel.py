"""The numpy automaton behind PQL's ``scan``, run in
``groupBy(__scan_g).applyInPandas`` over the frame of the SQL emitter's
work statement (``sql_backend._SqlEmitter._emit_scan``), which holds
every row-only value as a column; only a skeleton of comparisons,
boolean ops and arithmetic over (declared vars, those columns) is
interpreted here."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import types as T

# declared-var rebuild dtypes: Spark integral/boolean types map to pandas
# NULLABLE extension arrays so a NULL assignment value survives the
# float64+NaN Arrow representation (see run_group)
_NULLABLE_DTYPES = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.BooleanType: "boolean",
}


def _sk_null(v) -> bool:
    if v is None or v is pd.NA:
        return True
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def scan_groups(
    pdf: pd.DataFrame,
    *,
    by_names: list[str],
    order_names: list[str],
    ascending: list[bool],
    checks_spec: list[tuple],
    assign_map: dict[tuple[int, int], str],
    assign_skel: dict[tuple[int, int], tuple],
    names: list[str],
    out_modes: list[str],
    var_names: list[str],
    vtypes: list,
    match_id_col: str,
    drop_cols: list[str],
    n_x: int,
) -> pd.DataFrame:
    """The automaton over one super-group (the scan keys hashed to one
    ``__scan_g``).  ``checks_spec[i]``: ``("arr", i)`` reads the column
    ``__scan_p{i}``, ``("skel", tree)`` is interpreted; each (step, var)
    assignment is a work column or a skeleton."""
    k = len(names)
    n_vars = len(var_names)

    def run_group(pdf: pd.DataFrame, gids=None) -> pd.DataFrame:
        # gids: per-row group ordinal over an ALREADY (keys, order)
        # -sorted frame — the automaton resets at boundaries, so one
        # call handles every key without per-key pandas sub-frames
        # (2.5 s → ~1 s at sf0.1).  -1 marks null-key rows; None →
        # single group.
        if gids is None:
            pdf = pdf.sort_values(
                order_names, ascending=ascending, kind="mergesort"
            )
        flags = {
            i: pdf[f"__scan_p{i}"].fillna(False).to_numpy()
            for i, c in enumerate(checks_spec)
            if c[0] == "arr"
        }
        xarrs = [
            pdf[f"__scan_x{t}"].to_numpy() for t in range(n_x)
        ]
        if n_vars:
            init_vals = [
                pdf[f"__scan_i{j}"].to_numpy() for j in range(n_vars)
            ]
            avals = {
                key: pdf[nm].to_numpy()
                for key, nm in assign_map.items()
            }

        def _ev(node, r: int, st: list):
            # skeleton interpreter — mirrors the emitted binary
            # operators: null-safe ==/!= coalesce to False,
            # ordered comparisons propagate null, try_divide /
            # try_mod null on zero, Java-sign %
            tag = node[0]
            if tag == "col":
                v = xarrs[node[1]][r]
                return None if _sk_null(v) else v
            if tag == "var":
                v = st[node[1]]
                return None if _sk_null(v) else v
            if tag == "un":
                v = _ev(node[2], r, st)
                if v is None:
                    return None
                return v if node[1] == "+" else -v
            if tag == "not":
                v = _ev(node[1], r, st)
                return None if v is None else (not bool(v))
            opn = node[1]
            a = _ev(node[2], r, st)
            b = _ev(node[3], r, st)
            if opn in ("and", "or"):
                af = None if a is None else bool(a)
                bf = None if b is None else bool(b)
                if opn == "and":
                    if af is False or bf is False:
                        return False
                    return None if None in (af, bf) else True
                if af is True or bf is True:
                    return True
                return None if None in (af, bf) else False
            if opn in ("==", "!="):
                if a is None or b is None:
                    return False
                try:
                    eq = bool(a == b)
                except (TypeError, ValueError):
                    return False
                return eq if opn == "==" else not eq
            if a is None or b is None:
                return None
            try:
                if opn == "<":
                    return bool(a < b)
                if opn == "<=":
                    return bool(a <= b)
                if opn == ">":
                    return bool(a > b)
                if opn == ">=":
                    return bool(a >= b)
                if opn == "+":
                    return a + b
                if opn == "-":
                    return a - b
                if opn == "*":
                    return a * b
                if opn == "/":
                    return None if b == 0 else a / b
                # '%': Java remainder (sign of dividend), like
                # Spark's %; try_mod → NULL on zero
                if b == 0:
                    return None
                if isinstance(
                    a, (int, np.integer)
                ) and isinstance(b, (int, np.integer)):
                    # exact integer Java-sign remainder — fmod
                    # round-trips through float64 and diverges for
                    # |operands| > 2^53 (ADVICE r7)
                    ia, ib = int(a), int(b)
                    r = abs(ia) % abs(ib)
                    return r if ia >= 0 else -r
                return math.fmod(a, b)
            except TypeError:
                return None

        pos, match_id = 0, 0
        state: list = [None] * n_vars
        # pending: (row, step name, step index, var snapshot)
        pending: list[tuple[int, str, int, list]] = []
        out_idx: list[int] = []
        out_mid: list[int] = []
        out_step: list[str] = []
        out_vars: list[list] = [[] for _ in range(n_vars)]
        cur_g = None
        for r in range(len(pdf)):
            if gids is not None:
                g = gids[r]
                if g < 0:  # null scan key: never matches
                    continue
                if g != cur_g:  # new key: fresh automaton
                    cur_g = g
                    pos, match_id, pending = 0, 0, []
            if pos < k:
                spec = checks_spec[pos]
                if spec[0] == "arr":
                    hit = flags[pos][r]
                else:
                    st = (
                        state
                        if pos > 0
                        else [
                            init_vals[j][r] for j in range(n_vars)
                        ]
                    )
                    hit = bool(_ev(spec[1], r, st) or False)
            else:
                hit = False
            if hit:
                if pos == 0 and n_vars:
                    # new match attempt: reset to the init values
                    state = [init_vals[j][r] for j in range(n_vars)]
                entry = list(state)
                for j in range(n_vars):
                    key = (pos, j)
                    if key in assign_skel:
                        state[j] = _ev(assign_skel[key], r, entry)
                    elif n_vars and key in avals:
                        state[j] = avals[key][r]
                pending.append((r, names[pos], pos, list(state)))
                pos += 1
                if pos == k:
                    for rr, st_, si, snap in pending:
                        if out_modes[si] == "none":
                            continue
                        out_idx.append(rr)
                        out_mid.append(match_id)
                        out_step.append(st_)
                        for j in range(n_vars):
                            out_vars[j].append(snap[j])
                    match_id += 1
                    pos, pending = 0, []
        base = pdf.drop(columns=drop_cols)
        res = base.iloc[out_idx].copy()
        res[match_id_col] = pd.array(out_mid, dtype="int64")
        res["step"] = out_step
        for j, v in enumerate(var_names):
            # one Spark type, but an integral Arrow column with nulls
            # arrives as float64+NaN: rebuild against the Spark type —
            # nullable extension arrays for integral/bool (NaN → <NA>),
            # numpy for float/datetime, object otherwise.
            nullable = _NULLABLE_DTYPES.get(type(vtypes[j]))
            if nullable is not None:
                res[v] = pd.array(out_vars[j], dtype=nullable)
            elif isinstance(
                vtypes[j], (T.FloatType, T.DoubleType)
            ) or str(init_vals[j].dtype).startswith("datetime64"):
                res[v] = pd.Series(
                    np.asarray(out_vars[j], dtype=init_vals[j].dtype),
                    index=res.index,
                )
            else:
                res[v] = pd.Series(
                    out_vars[j], index=res.index, dtype="object"
                )
        return res

    # one call per SUPER-group: ~2×cores calls instead of one per key
    # (applyInPandas pays per-call overhead; 3.8 s → sub-second at
    # sf0.1).  ONE (keys, order) sort + a boundary-resetting pass;
    # match_ids stay LOCAL to a key.
    pdf = pdf.drop(columns="__scan_g", errors="ignore")
    if not by_names:
        return run_group(pdf)
    pdf = pdf.sort_values(
        by_names + order_names,
        ascending=[True] * len(by_names) + ascending,
        kind="mergesort",
    )
    gids = pdf.groupby(by_names, sort=False).ngroup().to_numpy()
    return run_group(pdf, gids)
