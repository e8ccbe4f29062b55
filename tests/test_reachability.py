"""Every engine function is reached from a plane, a catalog key, a tool
or the driver entry, or is named in ``KEPT`` with the reason it stays;
and every ``KEPT`` name is a function that still exists and is still
unreached.

The sweep is static (AST only, no Spark). Roots are the whole of
``plans/catalog.py`` (every registered key), ``perfbench/`` (minus its
tests), the scripts under ``tools/``, ``bench.py`` and
``__spark_entry__.py``. From them it follows, transitively, every name
a function, class or module-level assignment refers to: bare names,
``module.attr`` chains, and ``(module, "attr")`` pairs as used by
``mock.patch.object``. A re-export in an ``__init__.py`` is followed
only when something reached names it, and a docstring mention is not a
reference. Tests are never roots. The sweep takes well under a second.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "traffic_forecast_etl_spark"

# Qualified name (under the package) -> one-line reason it stays
# although no root reaches it.
_TF_TEST = "setup or reference in a kept tablefmt shadow-model / change-feed test"
_CODEC = "pure-Python reference the vectorised DV codec is tested against"
KEPT: dict[str, str] = {
    "ddl.create_tables": "the reference DAG's create-tables task",
    "ddl.drop_tables": "the reference DAG's create-tables task (teardown half)",
    "ddl._create_sql": "helper of create_tables",
    "functions.holidays_nl.nl_holidays": "reference the is_nl_holiday column expression is tested against",
    "functions.holidays_nl.easter_sunday": "helper of nl_holidays",
    "functions.inference.predict_udf": "scoring path of ml_kernel (the notebook's SVR)",
    "ml.save": "the reference's pickled-model hand-off from training to the DAG",
    "ml.load": "the reference's pickled-model hand-off from training to the DAG",
    "ml_kernel.fit_kernel_model": "the notebook's SVR (ml_kernel.py is kept whole)",
    "ml_kernel.predict_kernel": "the notebook's SVR (ml_kernel.py is kept whole)",
    "operators.ann_index.ann_index_recluster": "the only way to produce a second ANN index epoch",
    "operators.dedup.expand_collapsed_pairs": "bridge in the collapse_exact parity tests",
    "operators.sampling.hash_sample": "setup in the stratified_hash_sample and shuffle-free scoring tests",
    "operators.sampling.split_train_eval": "its test also pins hash_sample's salt independence",
    "operators.skew.salted_aggregate": "candidate for the hot-key item",
    "operators.skew.salted_join": "candidate for the hot-key item",
    "sources.delta_dv.roaring_array_serialize": _CODEC,
    "sources.delta_dv.roaring_array_deserialize": _CODEC,
    "sources.delta_dv.dv_payload_encode": _CODEC,
    "sources.delta_dv.dv_payload_decode": _CODEC,
    "sources.delta_dv._serialize_bitmap32": _CODEC,
    "sources.delta_dv._deserialize_bitmap32": _CODEC,
    "sources.delta_log._dv_positions": _CODEC,
    "sources.delta_log.delta_snapshot_files": "setup in the kept Delta log tests",
    "sources.iceberg_meta.iceberg_snapshot_files": "setup in the kept Iceberg metadata tests",
    "sources.http_payload.fetch_forecast": "the reference's AccuWeather pull",
    "sources.http_payload.fetch_json": "transport of fetch_forecast",
    "sources.http_payload._urllib_transport": "default transport of fetch_json",
    "sources.json_payload.first_matching_location": "the reference's AccuWeather location lookup",
    "sources.jdbc.read_jdbc": "the reference's Postgres sink (read side)",
    "sources.jdbc.write_jdbc_append": "the reference's Postgres sink (write side)",
    "streaming.micro_batch.read_documents_stream": "source in the batch/stream curation parity test",
    "tablefmt.snapshot_compact": _TF_TEST,
    "tablefmt.snapshot_expire": _TF_TEST,
    "tablefmt.snapshot_incremental": _TF_TEST,
    "tablefmt.snapshot_list_staged": _TF_TEST,
    "tablefmt.snapshot_partition_spec": _TF_TEST,
    "tablefmt.snapshot_scan_multi": _TF_TEST,
    "tablefmt.snapshot_untag": _TF_TEST,
    "tablefmt.vacuum": _TF_TEST,
    "tablefmt._sweep_unreferenced": "helper of snapshot_expire and vacuum",
}


def _modname(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _walk(node: ast.AST):
    """``ast.walk`` without its generator-per-node overhead."""
    todo = [node]
    while todo:
        n = todo.pop()
        yield n
        for f in n._fields:
            v = getattr(n, f, None)
            if isinstance(v, list):
                todo.extend(x for x in v if isinstance(x, ast.AST))
            elif isinstance(v, ast.AST):
                todo.append(v)


class _Module:
    """One swept file: its top-level definitions and assignments
    (``nodes``), the module-level code run on import (``loose``), every
    import binding in the file, and per statement the expressions that
    may name another node."""

    def __init__(self, name: str, path: Path):
        self.name = name
        self.is_pkg = path.name == "__init__.py"
        self.nodes: dict[str, list[ast.stmt]] = {}
        self.loose: list[ast.stmt] = []
        self.imports: dict[str, tuple[str, str | None]] = {}
        self.uses: dict[int, list] = {}
        for stmt in ast.parse(path.read_text(), str(path)).body:
            self.uses[id(stmt)] = self._scan(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.nodes.setdefault(stmt.name, []).append(stmt)
                continue
            targets = (
                stmt.targets if isinstance(stmt, ast.Assign)
                else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
            )
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if names == ["__all__"] or isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            for n in names:
                self.nodes.setdefault(n, []).append(stmt)
            if not names and not (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)):
                self.loose.append(stmt)

    def _scan(self, stmt: ast.stmt) -> list:
        uses: list = []
        for e in _walk(stmt):
            if isinstance(e, (ast.Name, ast.Attribute)):
                uses.append(e)
            elif isinstance(e, (ast.Tuple, ast.Call)):
                # (module, "attr") as in mock.patch.object(module, "attr", ...)
                seq = e.elts if isinstance(e, ast.Tuple) else e.args
                uses += [
                    (a, b.value) for a, b in zip(seq, seq[1:])
                    if isinstance(b, ast.Constant) and isinstance(b.value, str)
                ]
            elif isinstance(e, ast.Import):
                for a in e.names:
                    head = a.asname or a.name.split(".")[0]
                    self.imports[head] = (a.name if a.asname else head, None)
            elif isinstance(e, ast.ImportFrom):
                base = e.module or ""
                if e.level:
                    pkg = self.name.split(".")[: None if self.is_pkg else -1]
                    base = ".".join(pkg[: len(pkg) - e.level + 1] + ([base] if base else []))
                for a in e.names:
                    self.imports[a.asname or a.name] = (base, a.name)
        return uses


class _Graph:
    def __init__(self):
        paths = list((REPO / PKG).rglob("*.py"))
        paths += [p for p in (REPO / "perfbench").rglob("*.py") if "tests" not in p.parts]
        paths += list((REPO / "tools").glob("*.py"))
        paths += [REPO / "bench.py", REPO / "__spark_entry__.py"]
        self.mods = {m.name: m for m in (_Module(_modname(p), p) for p in paths)}

    def resolve(self, mod: str, name: str, depth: int = 0):
        """``("mod", m)`` or ``("node", m, name)`` that ``name`` in
        module ``mod`` refers to, following re-exports; None outside
        the swept files."""
        m = self.mods.get(mod)
        if m is None or depth > 10:
            return None
        if f"{mod}.{name}" in self.mods:
            return ("mod", f"{mod}.{name}")
        if name in m.nodes:
            return ("node", mod, name)
        if name in m.imports:
            base, attr = m.imports[name]
            if attr is None:
                return ("mod", base) if base in self.mods else None
            return self.resolve(base, attr, depth + 1)
        return None

    def _expr(self, m: _Module, e: ast.AST):
        if isinstance(e, ast.Name):
            return self.resolve(m.name, e.id)
        if isinstance(e, ast.Attribute):
            owner = self._expr(m, e.value)
            if owner and owner[0] == "mod":
                return self.resolve(owner[1], e.attr)
        return None

    def refs(self, m: _Module, stmts: list[ast.stmt]) -> set[tuple[str, str]]:
        out = set()
        for stmt in stmts:
            for u in m.uses[id(stmt)]:
                if isinstance(u, tuple):
                    owner = self._expr(m, u[0])
                    hit = self.resolve(owner[1], u[1]) if owner and owner[0] == "mod" else None
                else:
                    hit = self._expr(m, u)
                if hit and hit[0] == "node":
                    out.add(hit[1:])
        return out

    @staticmethod
    def _in_pkg(name: str) -> bool:
        return name == PKG or name.startswith(PKG + ".")

    def unreached(self) -> set[str]:
        """Package functions that no root reaches, as ``module.name``
        relative to the package."""
        todo: list[tuple[str, str]] = []
        for name, m in self.mods.items():
            if not self._in_pkg(name) or name == f"{PKG}.plans.catalog":
                todo += [(name, n) for n in m.nodes]
            if not m.is_pkg:  # an __init__ re-export is not a use
                todo += self.refs(m, m.loose)
        seen: set[tuple[str, str]] = set()
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                todo += self.refs(self.mods[key[0]], self.mods[key[0]].nodes[key[1]])
        return {
            f"{name}.{n}"[len(PKG) + 1 :]
            for name, m in self.mods.items()
            if self._in_pkg(name)
            for n, stmts in m.nodes.items()
            if (name, n) not in seen
            and any(isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef)) for s in stmts)
        }


def test_unreached_functions_are_exactly_the_kept_ones():
    unreached = _Graph().unreached()
    new = sorted(unreached - KEPT.keys())
    assert not new, (
        "reached by no plane, catalog key, tool or driver entry (wire it in, "
        f"delete it with its tests, or add it to KEPT with a reason): {new}"
    )
    stale = sorted(KEPT.keys() - unreached)
    assert not stale, f"KEPT names a function that is gone or now reached: {stale}"
