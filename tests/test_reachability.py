"""Every top-level ``pride_spark`` definition is reached from a query, a
CLI command or a non-test tool, or carries its reason in ``ALLOWED``.

A static AST scan, pure Python, no Spark session.  Roots:

- every ``qNN_*`` query in ``registry.py`` and every definition in
  ``cli.py``;
- each package module's import-time code (module-level statements,
  decorators, default arguments, class bases);
- every name the non-test files under ``tools/`` and ``perfbench/``,
  ``bench.py`` and ``__spark_entry__.py`` use, plus the
  ``("pride_spark.module", "attr")`` string pairs perfbench patches.

An edge runs from a definition to every package definition its body
names, through module aliases, ``from ... import`` bindings (relative
ones included) and package re-exports.  Tests are not roots: a function
only a test calls is dead surface unless it is the reference a test
compares the engine against, or the port of a reference method that
PARITY_AUDIT.md or a SURVEY.md row names.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "pride_spark"

#: definition -> why it stays although no query, command or tool reaches it
ALLOWED = {
    # Python references the engine is tested against
    "operators.similarity.lsh_topk_fold": "reference for test_lsh_topk_gemm_matches_fold",
    "operators.similarity.lit_vec": "reference vector literal for the similarity tests",
    "operators.modifications.regroup_modifications": "reference for the flat regroup tests",
    "operators.filters.score_denoise": "reference for q41 in test_filters",
    "operators.dedup.simhash64": "reference for the simhash tests",
    "operators.dedup.simhash_md5": "reference for the simhash tests",
    "operators.dedup.word_shingles": "reference for the shingle tests",
    "operators.joins.relate_spectra_files": "reference for test_relation_k2",
    # encoders that produce the numpress decoder tests' input
    "sources.numpress.encode_linear": "input for the numpress decode tests",
    "sources.numpress.encode_pic": "input for the numpress decode tests",
    "sources.numpress.encode_slof": "input for the numpress decode tests",
    "sources.numpress.optimal_linear_fixed_point": "input for the numpress decode tests",
    # PARITY_AUDIT reference methods
    "functions.misc.random_token": "PARITY_AUDIT: getRandomToken (C15)",
    "functions.misc.sha1_checksum": "PARITY_AUDIT: calculateSha1Checksum (C14)",
    "functions.misc.peaks_to_arrays": "PARITY_AUDIT: indexSpectraStep peaks (X2)",
    "operators.filters.scan_id_validation": "PARITY_AUDIT: indexSpectraStep scan-id check (F15)",
    "operators.filters.assay_validity_gate": "PARITY_AUDIT: analyzeAssayInformationStep gate (F11)",
    "operators.joins.psm_spectrum_join": "PARITY_AUDIT: indexSpectraStep spectrum fetch (J5)",
    "operators.cluster.isobaric_pure_clusters": "PARITY_AUDIT: performProteinInference purity gate (A12a)",
    "operators.cluster.valid_peptidoforms": "PARITY_AUDIT: performProteinInference majority gate (A12b)",
    "operators.modifications.distinct_modification_names": "PARITY_AUDIT: convertProteinModifications(List) (A10)",
    "operators.modifications.peptide_mods_to_protein_coords": "PARITY_AUDIT: convertProteinModifications(String, peptides) (X4)",
    "sources.jsonlines.write_jsonlines_validated": "PARITY_AUDIT: BackupUtil.write re-parse (K2)",
    # SURVEY rows: ports of named reference methods
    "functions.strings.clean_file_name": "SURVEY C1: cleanFileName",
    "functions.strings.ftp_to_https": "SURVEY C18: submissions.nf ftp->https rewrite",
    "functions.strings.unimod_label_repair": "SURVEY C20: UNIMOD cvLabel repair",
    "functions.misc.split_list": "SURVEY X5: comma-separated CLI lists",
    "operators.filters.phospho_artifact_filter": "SURVEY F8: phospho-on-Ala artifact filter",
    "operators.filters.ms_level_filter": "SURVEY F13: MS-level filter",
    "sources.mztab.read_mztab_peptides": "SURVEY S3: mzTab PEP section of the PIA import",
}


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, ast.Module]:
    return {
        _module_name(p): ast.parse(p.read_text(), str(p))
        for p in sorted((REPO / PKG).rglob("*.py"))
    }


def _root_files() -> list[Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += [p for p in sorted((REPO / d).glob("*.py")) if not p.name.startswith("test_")]
    return [p for p in files if p.exists()]


class _Scan:
    def __init__(self) -> None:
        self.mods = _package_modules()
        self.defs: dict[str, dict[str, list[ast.AST]]] = {}
        self.bindings: dict[str, dict[str, tuple[str, str | None]]] = {}
        for m, tree in self.mods.items():
            self.defs[m] = self._top_defs(tree)
            self.bindings[m] = self._imports(m, tree)

    # -- definitions and bindings -------------------------------------
    @staticmethod
    def _top_defs(tree: ast.Module) -> dict[str, list[ast.AST]]:
        out: dict[str, list[ast.AST]] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                out.setdefault(node.name, []).append(node)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) and not n.id.startswith("__"):
                            out.setdefault(n.id, []).append(node)
        return out

    def _imports(self, mod: str, tree: ast.Module) -> dict[str, tuple[str, str | None]]:
        """name -> (module, attr); attr None binds the module itself."""
        is_pkg = (REPO / Path(*mod.split(".")) / "__init__.py").exists()
        out: dict[str, tuple[str, str | None]] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        out[a.asname] = (a.name, None)
                    else:
                        out[a.name.split(".")[0]] = (a.name.split(".")[0], None)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    parts = mod.split(".")
                    keep = len(parts) - node.level + (1 if is_pkg else 0)
                    base = ".".join(parts[:keep] + ([base] if base else []))
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    out[a.asname or a.name] = (sub, None) if sub in self.mods else (base, a.name)
        return out

    def resolve(self, mod: str, name: str, seen=None) -> str | None:
        """The ``module.name`` definition that ``name`` in ``mod`` denotes."""
        if mod not in self.mods:
            return None
        if name in self.defs[mod]:
            return f"{mod}.{name}"
        seen = seen or set()
        if (mod, name) in seen or name not in self.bindings[mod]:
            return None
        seen.add((mod, name))
        tmod, attr = self.bindings[mod][name]
        return None if attr is None else self.resolve(tmod, attr, seen)

    # -- references -----------------------------------------------------
    def refs(self, nodes, bindings: dict[str, tuple[str, str | None]], home: str | None) -> set[str]:
        out: set[str] = set()
        for root in nodes:
            for n in ast.walk(root):
                if isinstance(n, ast.Name):
                    hit = self._name(n.id, bindings, home)
                    if hit:
                        out.add(hit)
                elif isinstance(n, ast.Attribute):
                    hit = self._attr(n, bindings)
                    if hit:
                        out.add(hit)
                elif isinstance(n, ast.Tuple) and len(n.elts) == 2 and all(
                    isinstance(e, ast.Constant) and isinstance(e.value, str) for e in n.elts
                ):
                    hit = self.resolve(n.elts[0].value, n.elts[1].value)
                    if hit:
                        out.add(hit)
        return out

    def _name(self, name: str, bindings, home: str | None) -> str | None:
        if home is not None and name in self.defs[home]:
            return f"{home}.{name}"
        if name in bindings:
            tmod, attr = bindings[name]
            return None if attr is None else self.resolve(tmod, attr)
        return None

    def _attr(self, node: ast.Attribute, bindings) -> str | None:
        chain = []
        cur: ast.AST = node
        while isinstance(cur, ast.Attribute):
            chain.append(cur.attr)
            cur = cur.value
        if not isinstance(cur, ast.Name) or cur.id not in bindings:
            return None
        tmod, attr = bindings[cur.id]
        chain.reverse()
        if attr is not None:
            return None
        # walk the dotted chain while it names modules, then resolve one attr
        for part in chain:
            if f"{tmod}.{part}" in self.mods:
                tmod = f"{tmod}.{part}"
                continue
            return self.resolve(tmod, part)
        return None

    # -- the graph ------------------------------------------------------
    def roots(self) -> set[str]:
        out: set[str] = set()
        for m, tree in self.mods.items():
            b = self.bindings[m]
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    import_time = node.decorator_list + node.args.defaults + [
                        d for d in node.args.kw_defaults if d is not None
                    ]
                elif isinstance(node, ast.ClassDef):
                    import_time = node.decorator_list + node.bases
                elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                    import_time = [node.value] if node.value is not None else []
                else:
                    import_time = [node]
                out |= self.refs(import_time, b, m)
        for name in self.defs[f"{PKG}.registry"]:
            if re.match(r"q\d\d_", name):
                out.add(f"{PKG}.registry.{name}")
        out |= {f"{PKG}.cli.{name}" for name in self.defs[f"{PKG}.cli"]}
        for p in _root_files():
            tree = ast.parse(p.read_text(), str(p))
            out |= self.refs([tree], self._imports(_module_name(p), tree), None)
        return out

    def reached(self, roots: set[str] | None = None) -> set[str]:
        seen: set[str] = set()
        todo = list(self.roots() if roots is None else roots)
        while todo:
            d = todo.pop()
            if d in seen:
                continue
            seen.add(d)
            mod, name = d.rsplit(".", 1)
            todo += self.refs(self.defs[mod][name], self.bindings[mod], mod)
        return seen

    def unreached(self) -> list[str]:
        """Top-level functions and classes no root reaches (module
        constants are edges of the graph but not reported)."""
        reached = self.reached()
        return sorted(
            f"{m}.{name}"
            for m in self.mods
            for name, nodes in self.defs[m].items()
            if f"{m}.{name}" not in reached
            and isinstance(nodes[0], (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        )


def _short(d: str) -> str:
    return d[len(PKG) + 1:]


def test_every_definition_is_reached_or_allowed():
    scan = _Scan()
    kept = set(map(_short, scan.reached({f"{PKG}.{name}" for name in ALLOWED})))
    dead = [d for d in map(_short, scan.unreached()) if d not in kept]
    assert dead == [], (
        "package definitions no query, CLI command or tool reaches; delete "
        f"them or give their reason in ALLOWED: {dead}"
    )


def test_allow_list_names_live_unreached_definitions():
    scan = _Scan()
    unreached = set(map(_short, scan.unreached()))
    defined = {_short(f"{m}.{n}") for m in scan.mods for n in scan.defs[m]}
    for name, why in ALLOWED.items():
        assert name in defined, f"ALLOWED names {name}, which no longer exists"
        assert name in unreached, f"ALLOWED names {name}, which is reached now ({why})"


def test_scan_follows_imports_and_aliases():
    """The scan must see through every binding form the package and its
    tools use, or a live definition would read as dead."""
    scan = _Scan()
    tree = ast.parse(
        "from pride_spark import registry\n"
        "import pride_spark.session as session\n"
        "from pride_spark.operators import multimodal as mm\n"
        "from pride_spark.functions import make_isobaric\n"
        "registry.queries, session.get_spark, mm.image_features, make_isobaric\n"
        "T = {('pride_spark.sinks.mgf', 'write_mgf'): 1}\n"
    )
    got = scan.refs([tree], scan._imports("tools.probe", tree), None)
    assert set(map(_short, got)) == {
        "registry.queries",
        "session.get_spark",
        "operators.multimodal.image_features",
        "functions.strings.make_isobaric",  # re-exported by functions/__init__
        "sinks.mgf.write_mgf",  # a perfbench patch target
    }
    # relative import in graph.py: `from ..session import _rdd_handle`
    assert scan.resolve(f"{PKG}.operators.graph", "_rdd_handle") == f"{PKG}.session._rdd_handle"
