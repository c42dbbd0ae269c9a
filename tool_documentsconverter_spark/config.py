"""Job configuration: YAML file + CLI precedence + validation (D7).

Mirror of the reference's ConfigManager laws
(doc_to_md/config_manager.py:36-242):
 - defaults first (get_default_config, :80-124),
 - a YAML file deep-merges OVER the defaults (load_config + _deep_merge,
   :36-70: nested dicts merge recursively, scalars/lists replace),
 - CLI args override the merged config last (update_from_args,
   :149-210: only explicitly-provided args override),
 - validate() returns a list of human-readable errors and the caller
   exits non-zero before submitting any work (:212-242; main.py wires
   it pre-run).

Keys are re-based for the Spark engine: the reference's thread-pool
knobs (performance.workers) become partition counts, its filesystem
lifecycle (delete/trash/backup) is out of scope for a table-to-table
job (documented in SURVEY §2.12), and a `pipeline` section carries the
bucketing/salting parameters of plans/pipeline.py.  Dotted-path get()
is preserved.

YAML parsing uses PyYAML when importable; otherwise a strict fallback
parser covering the subset this file format needs (nested maps, flow
lists, scalars, comments) keeps the module dependency-free.
"""

from __future__ import annotations

import copy
import re
from typing import Any, Dict, List, Optional

VALID_FILE_TYPES = ("text", "pdf", "docx", "doc", "html", "all")
VALID_OUTPUT_MODES = ("overwrite", "append", "errorifexists")
VALID_LOG_LEVELS = ("debug", "info", "warning", "error")


def default_config() -> Dict[str, Any]:
    """Engine defaults (analog of config_manager.py:80-124)."""
    return {
        "file_types": ["text", "pdf", "docx", "doc", "html"],
        "conversion": {
            "force": False,            # reference conversion.force
            "include_hidden": False,   # F2 predicate
            "fail_fast": False,        # False = reference failure isolation
        },
        "performance": {
            "partitions": 0,           # 0 = spark.sql.shuffle.partitions
            "buckets": 64,             # lineage/checkpoint granularity
            "salt": 32,                # skew sub-splits for heavy convs
            "heavy_threshold": 0.05,   # sample share marking a heavy conv
        },
        "filters": {
            "exclude_sources": [       # F1 exclude-dir analog
                ".git", "node_modules", ".venv", "venv",
                "dist", "build", "__pycache__",
            ],
        },
        "output": {
            "mode": "overwrite",       # parquet save mode (dynamic parts)
            "compression": "zstd",
        },
        "logging": {
            "level": "info",
        },
    }


def deep_merge(default: Dict[str, Any], override: Dict[str, Any]) -> Dict[str, Any]:
    """Nested dicts merge recursively; scalars and lists replace —
    the exact law of config_manager.py:60-70."""
    result = dict(default)
    for key, value in override.items():
        if key in result and isinstance(result[key], dict) \
                and isinstance(value, dict):
            result[key] = deep_merge(result[key], value)
        else:
            result[key] = value
    return result


# ---------------------------------------------------------------------------
# YAML loading (PyYAML if importable, else the strict subset parser)
# ---------------------------------------------------------------------------
_SCALAR_RE = re.compile(r"^(true|false|null|~|-?\d+|-?\d+\.\d+)$", re.I)


def _parse_scalar(tok: str) -> Any:
    tok = tok.strip()
    if (tok.startswith('"') and tok.endswith('"')) or \
            (tok.startswith("'") and tok.endswith("'")):
        return tok[1:-1]
    low = tok.lower()
    if low in ("true", "yes", "on"):
        return True
    if low in ("false", "no", "off"):
        return False
    if low in ("null", "~", ""):
        return None
    if re.fullmatch(r"-?\d+", tok):
        return int(tok)
    try:
        return float(tok)
    except ValueError:
        return tok


def _parse_yaml_subset(text: str) -> Dict[str, Any]:
    """Indentation-based maps, `- item` block lists, `[a, b]` flow
    lists, scalars, `#` comments.  Raises ValueError on anything
    outside the subset (better loud than silently misparsed)."""
    root: Dict[str, Any] = {}
    # stack of (indent, container)
    stack: List[tuple] = [(-1, root)]
    pending_key: Optional[str] = None

    for ln, raw in enumerate(text.splitlines(), 1):
        if not raw.strip() or raw.lstrip().startswith("#"):
            continue
        indent = len(raw) - len(raw.lstrip(" "))
        line = raw.strip()
        # comments after values (not inside quotes — subset rule)
        if " #" in line and '"' not in line and "'" not in line:
            line = line.split(" #", 1)[0].rstrip()

        while stack and indent <= stack[-1][0]:
            stack.pop()
        if not stack:
            raise ValueError(f"yaml subset: bad indentation at line {ln}")
        container = stack[-1][1]

        if line.startswith("- "):
            if not isinstance(container, list):
                # first list item under a pending key
                parent = stack[-2][1] if len(stack) > 1 else root
                if pending_key is None or not isinstance(parent, dict):
                    raise ValueError(f"yaml subset: stray list at line {ln}")
                container = parent[pending_key] = []
                stack[-1] = (stack[-1][0], container)
            container.append(_parse_scalar(line[2:]))
            continue

        if ":" not in line:
            raise ValueError(f"yaml subset: expected 'key: value' at line {ln}")
        key, _, rest = line.partition(":")
        key = key.strip()
        rest = rest.strip()
        if not isinstance(container, dict):
            raise ValueError(f"yaml subset: map item in list at line {ln}")
        if rest == "":
            child: Dict[str, Any] = {}
            container[key] = child
            stack.append((indent, child))
            pending_key = key
        elif rest.startswith("[") and rest.endswith("]"):
            inner = rest[1:-1].strip()
            container[key] = (
                [_parse_scalar(t) for t in inner.split(",")] if inner else []
            )
        else:
            container[key] = _parse_scalar(rest)
    return root


def load_yaml(path: str) -> Dict[str, Any]:
    with open(path, "r", encoding="utf-8") as f:
        text = f.read()
    try:
        import yaml  # type: ignore

        return yaml.safe_load(text) or {}
    except ImportError:
        return _parse_yaml_subset(text)


def load_config(path: Optional[str] = None) -> Dict[str, Any]:
    """defaults <- yaml file (missing file = pure defaults, the
    reference's behavior when config.yaml is absent)."""
    cfg = default_config()
    if path:
        cfg = deep_merge(cfg, load_yaml(path))
    return cfg


def get(config: Dict[str, Any], dotted: str, default: Any = None) -> Any:
    """Dotted-path lookup (config_manager.py:136-147)."""
    value: Any = config
    for key in dotted.split("."):
        if isinstance(value, dict) and key in value:
            value = value[key]
        else:
            return default
    return value


def update_from_args(config: Dict[str, Any], args: Any) -> Dict[str, Any]:
    """CLI overrides config overrides defaults; only explicitly
    provided args win (update_from_args, config_manager.py:149-210).
    argparse should default these flags to None so absence is
    distinguishable from an explicit value."""
    out = copy.deepcopy(config)

    def setif(dotted: str, value: Any) -> None:
        if value is None:
            return
        node = out
        keys = dotted.split(".")
        for k in keys[:-1]:
            node = node.setdefault(k, {})
        node[keys[-1]] = value

    setif("conversion.force", getattr(args, "force", None) or None)
    setif("performance.buckets", getattr(args, "buckets", None))
    setif("performance.salt", getattr(args, "salt", None))
    setif("performance.partitions", getattr(args, "partitions", None))
    setif("file_types", getattr(args, "types", None))
    setif("filters.exclude_sources", getattr(args, "exclude", None))
    setif("output.compression", getattr(args, "compression", None))
    if get(out, "file_types") and "all" in get(out, "file_types"):
        out["file_types"] = [t for t in VALID_FILE_TYPES if t != "all"]
    return out


def validate(config: Dict[str, Any]) -> List[str]:
    """Human-readable error list; empty = valid
    (config_manager.py:212-242)."""
    errors: List[str] = []
    for ft in get(config, "file_types", []) or []:
        if ft not in VALID_FILE_TYPES:
            errors.append(f"invalid file type: {ft}")
    mode = get(config, "output.mode")
    if mode and mode not in VALID_OUTPUT_MODES:
        errors.append(f"invalid output mode: {mode}")
    level = get(config, "logging.level")
    if level and level not in VALID_LOG_LEVELS:
        errors.append(f"invalid log level: {level}")
    buckets = get(config, "performance.buckets")
    if not isinstance(buckets, int) or buckets < 1:
        errors.append(f"performance.buckets must be a positive int: {buckets}")
    salt = get(config, "performance.salt")
    if not isinstance(salt, int) or salt < 1:
        errors.append(f"performance.salt must be a positive int: {salt}")
    partitions = get(config, "performance.partitions")
    if not isinstance(partitions, int) or partitions < 0:
        errors.append(
            f"performance.partitions must be a non-negative int: {partitions}")
    thr = get(config, "performance.heavy_threshold")
    if not isinstance(thr, (int, float)) or not 0 < thr <= 1:
        errors.append(
            f"performance.heavy_threshold must be in (0, 1]: {thr}")
    if not isinstance(get(config, "filters.exclude_sources"), list):
        errors.append("filters.exclude_sources must be a list")
    return errors
