"""Deployment settings are read from the environment in one place
(crawlspark/session.py). Every other engine decision comes from its
input or its config, so no other module may read os.environ/os.getenv."""

import ast
import pathlib

import crawlspark

_ENV_NAMES = {"environ", "getenv", "environb", "getenvb"}


def _env_reads(path):
    tree = ast.parse(path.read_text(), str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES:
            yield node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in _ENV_NAMES for a in node.names):
                yield node.lineno


def test_only_session_reads_environment():
    pkg = pathlib.Path(crawlspark.__file__).parent
    found = [
        f"{p.name}:{line}"
        for p in sorted(pkg.glob("*.py"))
        if p.name != "session.py"
        for line in _env_reads(p)
    ]
    assert found == []
