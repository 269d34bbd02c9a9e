#!/usr/bin/env python
"""Reachability table: which package functions each retired query spec
reaches beyond what the live system already runs.

A spec's *reach* is the set of package functions called on the driver
while the spec is built and collected (``toPandas``), recorded with
``sys.setprofile`` / ``threading.setprofile`` (coverage.py is not a
dependency). UDF bodies run in Python workers, so a package function (or
class) handed to a pyspark UDF / map / apply / data-source entry point
counts as reached, together with the package functions its code names.

The *live reach* is the union over the registered specs
(``plans.all_specs()``, which build the ``plans.llm.SHARED_PASSES`` they
consume) and the CDC path tests
(``tests/test_source.py``, ``tests/test_streaming.py``,
``tests/test_once_semantics.py``). Functions defined in ``plans/`` are
query glue (spec bodies, oracle SQL builders, private helpers) and are
left out of the comparison: they go or stay with the specs that use them.

Every retired spec is built with the module-level session caches cleared,
so a cache filled by one spec does not hide the build from the next.

Usage:
    python tools/reachability.py [--sf 0.01] [--md docs/REACHABILITY.md]

``--md`` rewrites the table; rows already in that file for specs no
longer in the registry are carried over unchanged, so the file keeps one
row per retired spec ever audited.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
import threading
import time
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark  # noqa: E402

import crdb_changefeed_publisher_spark as pkg  # noqa: E402
from crdb_changefeed_publisher_spark import plans  # noqa: E402
from crdb_changefeed_publisher_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__)) + os.sep
PYSPARK_DIR = os.path.dirname(os.path.abspath(pyspark.__file__)) + os.sep
FIXTURE_ROOT = os.path.dirname(DEFAULT_SF_DIR)
CDC_TESTS = ["tests/test_source.py", "tests/test_streaming.py", "tests/test_once_semantics.py"]

# pyspark entry points that take a user callable or class which then runs
# in a Python worker (or on a py4j callback thread)
_HANDOFF = frozenset({
    "_create_udf", "_create_pandas_udf", "_create_udtf",
    "udf", "pandas_udf", "udtf", "register", "mapInPandas", "mapInArrow",
    "applyInPandas", "applyInArrow", "applyInPandasWithState",
    "transformWithStateInPandas", "foreachBatch", "foreach", "mapPartitions",
    "mapPartitionsWithIndex", "flatMap", "map",
})


class Recorder:
    """Collects the package code objects called while it is installed."""

    def __init__(self) -> None:
        self.hits: set[types.CodeType] = set()

    def hook(self, frame, event, arg):  # noqa: ARG002
        if event != "call":
            return
        co = frame.f_code
        fname = co.co_filename
        if fname.startswith(PKG_DIR):
            self.hits.add(co)
        elif fname.startswith(PYSPARK_DIR) and (
            co.co_name in _HANDOFF
            or (co.co_name in ("__init__", "__call__") and fname.endswith("udf.py"))
        ):
            try:
                for v in list(frame.f_locals.values()):
                    self._handoff(v)
            except Exception:  # noqa: BLE001 - never disturb the traced code
                pass

    def _handoff(self, v) -> None:
        """Record a package function or class handed to pyspark. Only
        plain attributes are read: pyspark objects resolve unknown
        attributes through the JVM."""
        fn = _as_function(v)
        if fn is not None:
            self._static(fn)
        elif isinstance(v, type):
            for cls in v.__mro__:
                if cls.__module__.startswith(pkg.__name__):
                    for attr in vars(cls).values():
                        if isinstance(attr, types.FunctionType):
                            self._static(attr)

    def _static(self, root: types.FunctionType) -> None:
        """Add a worker-side function and the package functions it names."""
        seen: set = set()
        todo = [root]
        while todo:
            fn = todo.pop()
            if fn in seen or not fn.__code__.co_filename.startswith(PKG_DIR):
                continue
            seen.add(fn)
            self.hits.add(fn.__code__)
            names: set[str] = set()
            stack = [fn.__code__]
            while stack:
                co = stack.pop()
                names.update(co.co_names)
                stack.extend(c for c in co.co_consts if isinstance(c, types.CodeType))
            scopes = [fn.__globals__]
            scopes += [
                vars(m) for m in fn.__globals__.values()
                if isinstance(m, types.ModuleType) and m.__name__.startswith(pkg.__name__)
            ]
            cells = [c.cell_contents for c in (fn.__closure__ or ()) if _cell_full(c)]
            for cand in cells + [s[n] for s in scopes for n in names if n in s]:
                cand = _as_function(cand)
                if cand is not None:
                    todo.append(cand)


def _as_function(v) -> types.FunctionType | None:
    """The Python function behind a plain function, partial or UDF."""
    if isinstance(v, functools.partial):
        v = v.func
    elif not isinstance(v, (type, types.FunctionType)):
        inst = getattr(v, "__dict__", None)
        v = inst.get("func") if isinstance(inst, dict) else None
    return v if isinstance(v, types.FunctionType) else None


def _cell_full(cell) -> bool:
    try:
        cell.cell_contents  # noqa: B018
        return True
    except ValueError:
        return False


def func_name(co: types.CodeType) -> str:
    """`operators.text.fan_out_scan`; nested defs fold into their owner."""
    rel = os.path.relpath(co.co_filename, PKG_DIR)[:-3].replace(os.sep, ".")
    qual = co.co_qualname.split(".<locals>")[0]
    return f"{rel}.{qual}"


def is_glue(name: str) -> bool:
    return name.startswith("plans.")


def clear_session_caches(spark) -> None:
    """Empty every module-level per-session cache (dicts keyed by
    applicationId) so the next spec rebuilds what it consumes."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(pkg.__name__):
            continue
        for attr, val in list(vars(mod).items()):
            if (
                isinstance(val, dict)
                and attr.startswith("_")
                and attr.isupper()
                and val
                and all(isinstance(k, tuple) for k in val)
            ):
                val.clear()
    spark.catalog.clearCache()


def record(rec: Recorder, fn) -> tuple[set[str], str | None]:
    rec.hits = set()
    err = None
    sys.setprofile(rec.hook)
    try:
        fn()
    except Exception as e:  # noqa: BLE001
        err = f"{type(e).__name__}: {str(e).splitlines()[0][:120] if str(e) else ''}"
    finally:
        sys.setprofile(None)
    # module bodies run once per interpreter, whichever spec imports first
    return {func_name(c) for c in rec.hits if c.co_name != "<module>"}, err


def run_cdc_tests(rec: Recorder) -> tuple[set[str], str | None]:
    import pytest

    def go():
        code = pytest.main(["-q", "-p", "no:cacheprovider", *(os.path.join(REPO, t) for t in CDC_TESTS)])
        if code != 0:
            raise RuntimeError(f"CDC tests exited {code}")

    return record(rec, go)


def _md_rows(path: str) -> dict[str, str]:
    rows: dict[str, str] = {}
    if not os.path.exists(path):
        return rows
    with open(path) as f:
        for line in f:
            if line.startswith("| `"):
                rows[line.split("`")[1]] = line.rstrip("\n")
    return rows


def write_md(path: str, sf: str, live: set[str], retired: dict[str, dict]) -> None:
    carried = {n: r for n, r in _md_rows(path).items() if n not in retired}
    others: dict[str, set[str]] = {}
    for name in retired:
        others[name] = set().union(
            *(set(i["reach"]) for n, i in retired.items() if n != name)
        )
    rows = dict(carried)
    for name, info in sorted(retired.items()):
        extra = sorted(f for f in info["reach"] if not is_glue(f) and f not in live)
        alone = [f"**{f}**" if f not in others[name] else f for f in extra]
        status = "kept" if extra else "deletable"
        rule = "(c)" if extra else "(a)"
        note = f" (error: {info['error']})" if info.get("error") else ""
        rows[name] = (
            f"| `{name}` | {info['module']} | {status} | {rule} | "
            f"{', '.join(alone) or '—'}{note} |"
        )
    text = ""
    if os.path.exists(path):
        with open(path) as f:
            text = f.read()
    head = text.split("| spec |")[0] if "| spec |" in text else _default_head(sf)
    with open(path, "w") as f:
        f.write(head)
        f.write("| spec | module | status | rule | package functions outside the live reach "
                "(**bold**: no other retired spec reaches it) |\n")
        f.write("|---|---|---|---|---|\n")
        for name in sorted(rows):
            f.write(rows[name] + "\n")


def _default_head(sf: str) -> str:
    return (
        "# Retired-spec reachability\n\n"
        f"Generated by `python tools/reachability.py --sf {sf} --md docs/REACHABILITY.md`.\n\n"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01", help="fixture dir or bare scale factor")
    ap.add_argument("--md", default=None, help="write the markdown table here")
    args = ap.parse_args()
    sf_dir = args.sf if "/" in args.sf else os.path.join(FIXTURE_ROOT, f"sf{args.sf}")
    sf = args.sf if "/" not in args.sf else os.path.basename(args.sf).removeprefix("sf")

    rec = Recorder()
    threading.setprofile(rec.hook)
    # the CDC tests go first: their conftest prepares the worker
    # environment before the JVM starts, and the session is reused below
    live: set[str] = set()
    reach, err = run_cdc_tests(rec)
    if err:
        print(f"CDC tests: {err}", file=sys.stderr)
        return 1
    live |= reach
    print(f"cdc path: {len(reach)} functions", file=sys.stderr)

    # the live specs build the session-shared passes they consume, so
    # their union covers those passes; a pass no live spec consumes stays
    # out of the live reach
    spark = get_spark("reachability")
    for name, spec in plans.all_specs().items():
        t0 = time.time()
        reach, err = record(rec, lambda spec=spec: spec.fn(spark, sf_dir).toPandas())
        if err:
            print(f"live {name}: {err}", file=sys.stderr)
            return 1
        live |= reach
        print(f"live {name}: {len(reach)} [{time.time() - t0:.1f}s]", file=sys.stderr)

    retired: dict[str, dict] = {}
    for name, spec in plans.retired_specs().items():
        clear_session_caches(spark)
        t0 = time.time()
        reach, err = record(rec, lambda spec=spec: spec.fn(spark, sf_dir).toPandas())
        retired[name] = {
            "module": spec.fn.__module__.rsplit(".", 1)[-1] + ".py",
            "reach": sorted(reach),
            "error": err,
        }
        outside = sorted(f for f in reach if not is_glue(f) and f not in live)
        print(f"retired {name}: {len(reach)} reached, {len(outside)} outside live "
              f"[{time.time() - t0:.1f}s]{' ' + err if err else ''}", file=sys.stderr)
    threading.setprofile(None)

    if args.md:
        write_md(args.md, sf, live, retired)
    for name, info in retired.items():
        outside = [f for f in info["reach"] if not is_glue(f) and f not in live]
        print(f"{'KEEP' if outside else 'DEL '}  {name}: {', '.join(outside)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
