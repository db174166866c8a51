"""Design-quality ledger: one JSON line of code-size and surface counts.

Lines under xidel_spark/crawl/, the xidel.* conf keys the package reads,
FrontierCrawler's keyword options, and the xidel_spark modules no product
entry point imports, directly or transitively (a submodule import runs
its parent packages too). Usage: python tools/ledger.py [repo_root]
"""

import ast
import json
import sys
from pathlib import Path

ENTRY_POINTS = ["__spark_entry__.py", "tools/xidel_spark_cli.py", "tools/run_crawl.py"]


def imports(tree: ast.AST, mod: str, is_pkg: bool, known: set[str]) -> set[str]:
    out, parts = set(), mod.split(".")
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = parts[: len(parts) + is_pkg - node.level] if node.level else []
            target = ".".join(base + ([node.module] if node.module else []))
            out |= {target} | {f"{target}.{a.name}" for a in node.names}
    out |= {m.rsplit(".", i)[0] for m in out for i in range(1, m.count(".") + 1)}
    return out & known


def main() -> None:
    root = Path(sys.argv[1] if len(sys.argv) > 1 else Path(__file__).resolve().parent.parent)
    files = {}
    for p in (root / "xidel_spark").rglob("*.py"):
        parts = p.relative_to(root).with_suffix("").parts
        files[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = p
    trees = {m: ast.parse(p.read_text()) for m, p in files.items()}
    confs, options = set(), []
    for node in (n for t in trees.values() for n in ast.walk(t)):
        if (isinstance(node, ast.Call) and getattr(node.func, "attr", "") == "get" and node.args
                and str(getattr(node.args[0], "value", "")).startswith("xidel.")):
            confs.add(node.args[0].value)
        if isinstance(node, ast.ClassDef) and node.name == "FrontierCrawler":
            init = next(n for n in node.body if getattr(n, "name", "") == "__init__")
            options = [a.arg for a in init.args.kwonlyargs]
    reached: set[str] = set()
    todo = [m for e in ENTRY_POINTS for m in imports(ast.parse((root / e).read_text()), "", False, set(files))]
    while todo:
        m = todo.pop()
        if m not in reached:
            reached.add(m)
            todo += imports(trees[m], m, files[m].name == "__init__.py", set(files))
    crawl_loc = sum(len(p.read_text().splitlines()) for p in (root / "xidel_spark/crawl").glob("*.py"))
    unreached = sorted(m for m in set(files) - reached if files[m].name != "__init__.py")
    print(json.dumps({"crawl_loc": crawl_loc, "conf_keys": sorted(confs),
                      "crawler_options": options, "unreached_modules": unreached}))


if __name__ == "__main__":
    main()
