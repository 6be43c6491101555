"""Seeded generator of a realistic source-code corpus for the
``corpus-linkgraph`` workload.

Files are 2-4 KB of Python: a module docstring, an import block, and
function bodies with docstrings.  Each import block mixes

  - intra-repo module imports (``import proj3.core.mod_12`` or
    ``from proj3.core.mod_12 import fn_1``) — these resolve to edges;
  - stdlib and third-party names (``os``, ``numpy.linalg``) and sibling-repo
    modules — these must NOT resolve, since resolution is within one repo.

The generator knows every import line it writes, so the golden edge set,
the dense vertex ids ``assign_vertex_ids`` must produce, and the sha256
manifest come straight from the generator, independent of the engine.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

STDLIB = (
    "os", "sys", "re", "json", "math", "time", "typing", "itertools",
    "functools", "collections", "dataclasses", "pathlib", "logging",
    "os.path", "concurrent.futures", "urllib.parse",
)
THIRD_PARTY = (
    "numpy", "pandas", "requests", "yaml", "attr", "numpy.linalg",
    "pandas.api.types", "pyarrow.parquet", "scipy.sparse", "torch.nn",
)
SUBPACKAGES = ("core", "io", "util", "api", "model")
INTRA_IMPORTS = 4    # about this many intra-repo imports per file
FOREIGN_IMPORTS = 4  # about this many per file that must not resolve
# docstring / comment vocabulary; deliberately lacks "from" and "import",
# so no prose line can look like an import statement to the extractor
WORDS = (
    "the", "graph", "vertex", "edge", "returns", "value", "index", "batch",
    "partition", "state", "message", "compute", "table", "column", "frame",
    "every", "each", "given", "after", "before", "result", "cache", "layout",
    "shuffle", "superstep", "rank", "label", "component", "count", "read",
)


@dataclass
class Corpus:
    rows: list[tuple[str, str, str, str, str]]  # (repo, path, commit, lang, content)
    golden: set[tuple[str, str, str, str]]      # (src_repo, src_path, dst_repo, dst_path)
    manifest: list[tuple[str, str, str]]        # (repo, path, content_sha256)
    import_lines: int                           # lines the extractor matches

    def vertex_ids(self) -> dict[tuple[str, str], int]:
        """The dense ids ``assign_vertex_ids`` must assign: 1-based rank of
        (repo, path) in byte order (all names are ASCII)."""
        keys = sorted((r, p) for r, p, *_ in self.rows)
        return {k: i + 1 for i, k in enumerate(keys)}

    @property
    def content_bytes(self) -> int:
        return sum(len(row[4]) for row in self.rows)


def _module(path: str) -> str:
    return path[: -len(".py")].replace("/", ".")


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _function(rng: random.Random, name: str) -> list[str]:
    args = ", ".join(f"arg_{k}" for k in range(rng.randint(1, 4)))
    lines = [f"def {name}({args}):", f'    """{_sentence(rng, 8).capitalize()}.', ""]
    for _ in range(rng.randint(2, 4)):
        lines.append(f"    {_sentence(rng, rng.randint(8, 14))}")
    lines.append('    """')
    for k in range(rng.randint(4, 9)):
        lines.append(f"    v_{k} = arg_1 * {rng.randint(2, 97)} + len(str(arg_1))")
        if rng.random() < 0.3:
            # mid-line text that mentions an import is not an import line
            lines.append(f'    note_{k} = "see import {rng.choice(STDLIB)} for details"')
    lines.append(f"    return v_{k}")
    lines.append("")
    return lines


def generate_corpus(seed: int, num_repos: int, files_per_repo: int) -> Corpus:
    """Deterministic corpus of ``num_repos * files_per_repo`` files
    (``num_repos`` at least 2, so every repo has a sibling)."""
    rng = random.Random(seed)
    rows, golden, manifest = [], set(), []
    import_lines = 0
    for r in range(num_repos):
        repo = f"org-{r % 7}/proj-{r}"
        pkg = f"proj{r}"
        commit = hashlib.sha1(f"{seed}/{repo}".encode()).hexdigest()
        paths = [
            f"{pkg}/{SUBPACKAGES[i % len(SUBPACKAGES)]}/mod_{i}.py"
            for i in range(files_per_repo)
        ]
        for i, path in enumerate(paths):
            # popularity skew: low-numbered modules are imported more often
            k = rng.randint(0, 2 * INTRA_IMPORTS)
            targets = sorted(
                {min(int(files_per_repo * rng.random() ** 2), files_per_repo - 1)
                 for _ in range(k)} - {i}
            )
            imports = []
            for t in targets:
                mod = _module(paths[t])
                if rng.random() < 0.5:
                    imports.append(f"import {mod}")
                else:
                    imports.append(f"from {mod} import fn_{t}_0")
                golden.add((repo, path, repo, paths[t]))
            for _ in range(rng.randint(1, 2 * FOREIGN_IMPORTS)):
                pick = rng.random()
                if pick < 0.45:
                    imports.append(f"import {rng.choice(STDLIB)}")
                elif pick < 0.85:
                    name = rng.choice(THIRD_PARTY)
                    imports.append(f"from {name} import {rng.choice(WORDS)}")
                else:
                    # a sibling repo's module: exists, but in another repo
                    other = (r + 1) % num_repos
                    imports.append(f"import proj{other}.core.mod_0")
            rng.shuffle(imports)
            import_lines += len(imports)
            lines = [f'"""{_sentence(rng, 10).capitalize()}.', "", _sentence(rng, 12), '"""', ""]
            lines += imports + ["", ""]
            for f in range(rng.randint(3, 6)):
                lines += _function(rng, f"fn_{i}_{f}")
            content = "\n".join(lines)
            rows.append((repo, path, commit, "python", content))
            manifest.append((repo, path, hashlib.sha256(content.encode()).hexdigest()))
    return Corpus(rows=rows, golden=golden, manifest=manifest, import_lines=import_lines)
