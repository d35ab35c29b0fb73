"""Source-config model + template resolution.

Parity target: the reference's per-source YAML contract
(``src/config/sources/sample_source.yaml:1-112``) and its template resolver
(``src/lambda/api_ingestion/handler.py:39-81``), with the gaps fixed:

- the reference resolves only ``${SECRET:}`` / ``${ENV:}`` even though configs
  use ``${BUCKET:}`` (``sample_source.yaml:61,65``); we implement the full
  grammar ``${KIND:name[:default]}`` with KIND in {ENV, SECRET, BUCKET, VAR}.
- nested *target* mappings (``sample_source.yaml:39-43``) crash the reference
  (``transform_data.py:41-51`` assumes string values); here they are a
  first-class ``struct`` build — see operators/transform.py.

Plain dataclasses (pydantic isn't in the container); ``from_dict`` validates
eagerly so config errors surface before any Spark job starts.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Any, Callable

_TEMPLATE_RE = re.compile(r"\$\{(ENV|SECRET|BUCKET|VAR):([A-Za-z0-9_.\-/]+)(?::([^}]*))?\}")

# Pluggable lookup tables for non-ENV template kinds; tests and deployments
# register providers (e.g. a secrets manager client) here.
_PROVIDERS: dict[str, Callable[[str], str | None]] = {
    "ENV": lambda name: os.environ.get(name),
    "SECRET": lambda name: os.environ.get(f"SECRET_{name}"),
    "BUCKET": lambda name: os.environ.get(f"BUCKET_{name}"),
    "VAR": lambda name: None,
}


def register_template_provider(kind: str, fn: Callable[[str], str | None]) -> None:
    _PROVIDERS[kind] = fn


def resolve_templates(value: Any, extra_vars: dict[str, str] | None = None) -> Any:
    """Recursively resolve ``${KIND:name[:default]}`` templates in a config tree."""
    if isinstance(value, str):

        def _sub(m: re.Match[str]) -> str:
            kind, name, default = m.group(1), m.group(2), m.group(3)
            if extra_vars and name in extra_vars:
                return extra_vars[name]
            resolved = _PROVIDERS.get(kind, lambda _n: None)(name)
            if resolved is None:
                if default is not None:
                    return default
                raise KeyError(f"unresolved template ${{{kind}:{name}}} and no default given")
            return resolved

        return _TEMPLATE_RE.sub(_sub, value)
    if isinstance(value, dict):
        return {k: resolve_templates(v, extra_vars) for k, v in value.items()}
    if isinstance(value, list):
        return [resolve_templates(v, extra_vars) for v in value]
    return value


_VALID_TRANSFORM_TYPES = {"datetime", "date", "string", "integer", "long", "double", "trim", "regexp_replace", "lower", "upper"}

# Java SimpleDateFormat-style pattern sanity check: the reference ships an
# invalid pattern ("YYYY-MM-DD HH:mm:ss", sample_source.yaml:53 — week-year and
# day-of-year instead of year/day-of-month). We validate eagerly.
_BAD_PATTERN_RE = re.compile(r"(?<!')\b(YYYY|DD)\b(?!')")


@dataclass
class TransformationSpec:
    field: str
    type: str
    format: str | None = None  # datetime pattern
    pattern: str | None = None  # regexp_replace pattern
    replacement: str | None = None

    def __post_init__(self) -> None:
        if self.type not in _VALID_TRANSFORM_TYPES:
            raise ValueError(f"unknown transformation type {self.type!r} for field {self.field!r}")
        if self.type in ("datetime", "date") and self.format and _BAD_PATTERN_RE.search(self.format):
            raise ValueError(
                f"invalid datetime pattern {self.format!r} for {self.field!r}: "
                "use 'yyyy' (year) and 'dd' (day-of-month), not 'YYYY'/'DD'"
            )
        if self.type == "regexp_replace" and self.pattern is None:
            raise ValueError(f"regexp_replace on {self.field!r} requires 'pattern'")


@dataclass
class SchemaConfig:
    # mapping: {target: source_dot_path} or {target: {sub_target: source_dot_path}}
    # (nested dict value ⇒ build a struct column — the reference's declared-but-
    # broken nested-target form, sample_source.yaml:39-43)
    mapping: dict[str, Any] = field(default_factory=dict)
    required: list[str] = field(default_factory=list)
    transformations: list[TransformationSpec] = field(default_factory=list)


@dataclass
class QualityCheck:
    type: str  # not_null | unique | regex | accepted_values | range
    columns: list[str]
    pattern: str | None = None
    values: list[str] | None = None  # accepted_values membership list
    min_value: float | None = None  # range lower bound (inclusive)
    max_value: float | None = None  # range upper bound (inclusive)

    def __post_init__(self) -> None:
        if self.type not in ("not_null", "unique", "regex", "accepted_values", "range"):
            raise ValueError(f"unknown quality check type {self.type!r}")
        if self.type == "regex" and not self.pattern:
            raise ValueError("regex quality check requires 'pattern'")
        if self.type == "accepted_values" and not self.values:
            raise ValueError("accepted_values quality check requires 'values'")
        if self.type == "range" and self.min_value is None and self.max_value is None:
            raise ValueError("range quality check requires min_value and/or max_value")


# CloudWatch-style comparison names (sample_source.yaml:102,106) normalize to
# the short operator codes. The comparison is the ALARM condition: the alert
# trips when `metric <op> threshold` holds (e.g. "error_count GreaterThan 0"
# alarms when any error exists).
_COMPARISON_ALIASES = {
    "greaterthan": "gt",
    "greaterthanthreshold": "gt",
    "greaterthanorequalto": "ge",
    "greaterthanorequaltothreshold": "ge",
    "lessthan": "lt",
    "lessthanthreshold": "lt",
    "lessthanorequalto": "le",
    "lessthanorequaltothreshold": "le",
    "equals": "eq",
    "equalto": "eq",
}


@dataclass
class MetricThreshold:
    metric: str  # record_count | error_count
    threshold: float
    comparison: str  # gt | ge | lt | le | eq (or a CloudWatch-style alias)

    def __post_init__(self) -> None:
        self.comparison = _COMPARISON_ALIASES.get(self.comparison.lower(), self.comparison)
        if self.comparison not in ("gt", "ge", "lt", "le", "eq"):
            raise ValueError(f"unknown comparison {self.comparison!r}")


@dataclass
class DestinationConfig:
    path: str
    format: str = "parquet"
    partition_by: list[str] = field(default_factory=list)
    mode: str = "overwrite"
    # warehouse-table extras (Redshift-style layout → Spark physical layout)
    dist_key: str | None = None
    sort_keys: list[str] = field(default_factory=list)
    max_errors: int = 0  # tolerant-load cap (reference MAXERROR 10)
    # JDBC warehouse variant: load over a live connection instead of managed
    # parquet (the reference's actual Redshift COPY shape). ``path`` then
    # names the TABLE; jdbc_url/jdbc_driver configure the connection.
    jdbc_url: str | None = None
    jdbc_driver: str | None = None
    # commit protocol for the managed-parquet table swap:
    #   "rename"   — staging dir + atomic directory rename (POSIX/HDFS only)
    #   "manifest" — versioned data dirs + _manifest.json pointer written
    #                last; readers resolve through the manifest, so the swap
    #                is a single small-object overwrite — atomic on object
    #                stores too (see sinks/tables.py manifest protocol)
    commit: str = "rename"


@dataclass
class RetryPolicy:
    attempts: int = 3
    interval_seconds: float = 1.0
    backoff: float = 2.0


@dataclass
class SourceConfig:
    name: str
    type: str  # rest_api | email | file | stream
    data_format: str = "json"  # json | csv | parquet
    input_path: str | None = None
    schema: SchemaConfig = field(default_factory=SchemaConfig)
    destination: DestinationConfig | None = None
    quality_checks: list[QualityCheck] = field(default_factory=list)
    metric_thresholds: list[MetricThreshold] = field(default_factory=list)
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    partition_source_column: str | None = None  # explicit (fixes transform_data.py:123 heuristic)
    api: dict[str, Any] = field(default_factory=dict)  # rest_api connector config
    email: dict[str, Any] = field(default_factory=dict)  # email connector config
    stream: dict[str, Any] = field(default_factory=dict)  # streaming connector config
    # declarative post-transform stages (operators/post.py dispatcher):
    # exact_dedup / neardup_filter / hash_sample / redact_pii /
    # repetition_filter — the LLM-pipeline operators as config steps
    post_transforms: list[dict[str, Any]] = field(default_factory=list)

    @staticmethod
    def from_dict(raw: dict[str, Any], extra_vars: dict[str, str] | None = None) -> "SourceConfig":
        raw = resolve_templates(raw, extra_vars)
        src_type = raw.get("type", "file")
        if src_type not in ("rest_api", "email", "file", "stream"):
            raise ValueError(f"unknown source type {src_type!r}")
        schema_raw = raw.get("schema", {})
        schema = SchemaConfig(
            mapping=schema_raw.get("mapping", {}),
            required=list(schema_raw.get("required", [])),
            transformations=[
                TransformationSpec(
                    field=t["field"],
                    type=t["type"],
                    format=t.get("format"),
                    pattern=t.get("pattern"),
                    replacement=t.get("replacement"),
                )
                for t in schema_raw.get("transformations", [])
            ],
        )
        dest = None
        if "destination" in raw:
            d = raw["destination"]
            commit = d.get("commit", "rename")
            if commit not in ("rename", "manifest"):
                raise ValueError(f"unknown destination.commit {commit!r}: expected 'rename' or 'manifest'")
            dest = DestinationConfig(
                path=d["path"],
                format=d.get("format", "parquet"),
                partition_by=list(d.get("partition_by", d.get("partitionBy", []))),
                mode=d.get("mode", "overwrite"),
                dist_key=d.get("dist_key", d.get("distkey")),
                sort_keys=list(d.get("sort_keys", d.get("sortkeys", []))),
                max_errors=int(d.get("max_errors", 0)),
                jdbc_url=d.get("jdbc_url"),
                jdbc_driver=d.get("jdbc_driver"),
                commit=commit,
            )
        checks = [
            QualityCheck(
                type=c["type"],
                columns=list(c.get("columns", [c.get("column")])),
                pattern=c.get("pattern"),
                values=list(c["values"]) if "values" in c else None,
                min_value=float(c["min_value"]) if "min_value" in c else None,
                max_value=float(c["max_value"]) if "max_value" in c else None,
            )
            for c in raw.get("quality_checks", [])
        ]
        thresholds = [
            MetricThreshold(metric=m["metric"], threshold=float(m["threshold"]), comparison=m.get("comparison", "gt"))
            for m in raw.get("metric_thresholds", [])
        ]
        retry_raw = raw.get("retry", {})
        retry = RetryPolicy(
            attempts=int(retry_raw.get("attempts", 3)),
            interval_seconds=float(retry_raw.get("interval_seconds", 1.0)),
            backoff=float(retry_raw.get("backoff", 2.0)),
        )
        return SourceConfig(
            name=raw["name"],
            type=src_type,
            data_format=raw.get("data_format", "json"),
            input_path=raw.get("input_path"),
            schema=schema,
            destination=dest,
            quality_checks=checks,
            metric_thresholds=thresholds,
            retry=retry,
            partition_source_column=raw.get("partition_source_column"),
            api=raw.get("api", {}),
            email=raw.get("email", {}),
            stream=raw.get("stream", {}),
            post_transforms=list(raw.get("post_transforms", [])),
        )


def load_source_config(path: str, extra_vars: dict[str, str] | None = None) -> SourceConfig:
    """Load a JSON (or single-document YAML-subset) source config file."""
    with open(path) as f:
        text = f.read()
    try:
        raw = json.loads(text)
    except json.JSONDecodeError:
        raw = _parse_simple_yaml(text)
    return SourceConfig.from_dict(raw, extra_vars)


_MOMENT_TO_JAVA = [("YYYY", "yyyy"), ("DD", "dd")]  # moment.js tokens the ref uses


def _translate_datetime_format(fmt: str | None) -> str | None:
    """The reference writes moment.js-style datetime patterns
    (``sample_source.yaml:52`` ``YYYY-MM-DD HH:mm:ss``) that Spark's Java
    formatter rejects — one of the reference's latent bugs (its Glue job
    would throw on first use). Translate the two moment-only tokens; the
    rest (MM/HH/mm/ss) already agree."""
    if fmt is None:
        return None
    for src, dst in _MOMENT_TO_JAVA:
        fmt = fmt.replace(src, dst)
    return fmt


def source_config_from_reference(
    raw: dict[str, Any], extra_vars: dict[str, str] | None = None
) -> SourceConfig:
    """Adapt the reference's ACTUAL config-file shape
    (``src/config/sources/sample_source.yaml``: top-level ``source:``
    wrapper, ``config:`` connector block, raw/processed destinations,
    ``redshift:`` dist/sort keys, ``monitoring.metrics``) into a
    SourceConfig — a reference user's file loads unchanged:

    - ``config:`` block → ``api`` (endpoint/method/headers/parameters/
      pagination/timeout pass through; sources/rest.py reads these keys)
    - ``destination.processed`` {bucket,prefix,format,partitionBy} →
      DestinationConfig path/format/partition_by; ``redshift.distkey/
      sortkey`` → dist_key/sort_keys (COPY-time layout → write-time layout)
    - ``monitoring.metrics`` → metric_thresholds (CloudWatch comparison
      names alias-mapped)
    - moment.js datetime formats → Java patterns (see
      _translate_datetime_format; left as-is they'd be rejected)
    - ``config.retry`` backoff words → multiplier (exponential=2, linear=1)
    """
    src = raw.get("source", raw)
    cfg = dict(src.get("config", {}))
    # connector-block normalization: the reference writes `parameters:` where
    # the connector reads `params`, and flags offset pagination as
    # `enabled: true` + limit/offset param names with no `type`
    if "parameters" in cfg and "params" not in cfg:
        cfg["params"] = cfg.pop("parameters")
    pag = cfg.get("pagination")
    if isinstance(pag, dict) and pag.get("enabled") and "type" not in pag:
        pag = dict(pag)
        pag["type"] = "offset"
        limit_param = pag.get("limit_param", "limit")
        if "page_size" not in pag and limit_param in cfg.get("params", {}):
            pag["page_size"] = cfg["params"][limit_param]
        cfg["pagination"] = pag
    canonical: dict[str, Any] = {
        "name": src["name"],
        "type": src.get("type", "file"),
        "data_format": src.get("schema", {}).get("type", "json"),
        "api": cfg,
        "quality_checks": src.get("quality_checks", []),
    }
    schema_raw = src.get("schema", {})
    canonical["schema"] = {
        "mapping": schema_raw.get("mapping", {}),
        "required": schema_raw.get("required", []),
        "transformations": [
            {**t, "format": _translate_datetime_format(t.get("format"))}
            for t in schema_raw.get("transformations", [])
        ],
    }
    # the reference derives partitions from the first target column whose
    # name contains "date" (transform_data.py:113-150, a DATA-time scan);
    # replay that heuristic once at CONFIG time so the runtime stays explicit
    date_cols = [t for t in canonical["schema"]["mapping"] if "date" in t.lower()]
    if date_cols:
        canonical["partition_source_column"] = date_cols[0]
    retry_raw = cfg.get("retry", {})
    if retry_raw:
        canonical["retry"] = {
            "attempts": retry_raw.get("attempts", 3),
            "backoff": {"exponential": 2.0, "linear": 1.0}.get(
                str(retry_raw.get("backoff", "exponential")).lower(), 2.0
            ),
        }
    proc = src.get("destination", {}).get("processed")
    if proc:
        red = src.get("redshift", {})
        sort_keys = red.get("sortkey", [])
        canonical["destination"] = {
            "path": f"{proc['bucket'].rstrip('/')}/{proc['prefix'].strip('/')}",
            "format": proc.get("format", "parquet"),
            "partitionBy": proc.get("partitionBy", []),
            "distkey": red.get("distkey"),
            "sortkeys": [sort_keys] if isinstance(sort_keys, str) else list(sort_keys),
        }
    metrics = src.get("monitoring", {}).get("metrics", [])
    canonical["metric_thresholds"] = [
        {
            "metric": m["name"],
            "threshold": m["threshold"],
            "comparison": m.get("comparison", "gt"),
        }
        for m in metrics
    ]
    return SourceConfig.from_dict(canonical, extra_vars)


def retry_policy_from_asl(retry_blocks: list[dict[str, Any]]) -> RetryPolicy:
    """Adapt a Step-Functions ASL ``Retry`` array (the reference's
    ``workflow_definition.json`` Task states) to a RetryPolicy: MaxAttempts →
    attempts, IntervalSeconds → interval_seconds, BackoffRate → backoff.
    Only the first block matters — the reference always writes a single
    ``States.ALL`` catch-all."""
    if not retry_blocks:
        return RetryPolicy()
    b = retry_blocks[0]
    return RetryPolicy(
        attempts=int(b.get("MaxAttempts", 3)),
        interval_seconds=float(b.get("IntervalSeconds", 1.0)),
        backoff=float(b.get("BackoffRate", 2.0)),
    )


def load_reference_config(path: str, extra_vars: dict[str, str] | None = None) -> SourceConfig:
    """Load a config file written for the REFERENCE pipeline (YAML or JSON,
    its exact on-disk shape) — the migration entry point."""
    with open(path) as f:
        text = f.read()
    try:
        raw = json.loads(text)
    except json.JSONDecodeError:
        raw = _parse_simple_yaml(text)
    return source_config_from_reference(raw, extra_vars)


def _parse_simple_yaml(text: str) -> dict[str, Any]:
    """Tiny YAML-subset parser (mappings, lists, scalars) — no external deps.

    Supports the shape of the reference's sample_source.yaml: nested maps via
    indentation, ``- item`` lists, and ``key: value`` scalars.
    """
    import re as _re

    root: dict[str, Any] = {}
    # stack of (indent, container)
    stack: list[tuple[int, Any]] = [(-1, root)]

    def _scalar(s: str) -> Any:
        s = s.strip()
        if s in ("", "~", "null"):
            return None
        if s in ("true", "True"):
            return True
        if s in ("false", "False"):
            return False
        if s.startswith('"') and s.endswith('"') and len(s) >= 2:
            # YAML double-quoted escapes (the reference's email regex writes
            # `\\.` meaning a literal `\.`)
            body = s[1:-1]
            return _re.sub(
                r"\\([\\\"nt])",
                lambda m: {"\\": "\\", '"': '"', "n": "\n", "t": "\t"}[m.group(1)],
                body,
            )
        if s.startswith("'") and s.endswith("'") and len(s) >= 2:
            return s[1:-1].replace("''", "'")  # YAML single-quote escape
        # plain scalars: whitespace-preceded '#' starts a trailing comment
        # (YAML spec; the reference's own files use `timeout: 30 # seconds`);
        # re-classify the stripped remainder (it may be quoted or numeric)
        m = _re.search(r"\s#", s)
        if m:
            return _scalar(s[: m.start()])
        if _re.fullmatch(r"-?\d+", s):
            return int(s)
        if _re.fullmatch(r"-?\d+\.\d*", s):
            return float(s)
        return s

    lines = [ln for ln in text.splitlines() if ln.strip() and not ln.strip().startswith("#")]
    for ln in lines:
        indent = len(ln) - len(ln.lstrip())
        content = ln.strip()
        while stack and stack[-1][0] >= indent:
            stack.pop()
        parent = stack[-1][1]
        if content.startswith("- "):
            item_text = content[2:]
            if not isinstance(parent, list):
                raise ValueError(f"yaml parse error: list item outside list: {ln!r}")
            if ":" in item_text:
                k, _, v = item_text.partition(":")
                d: dict[str, Any] = {}
                parent.append(d)
                if v.strip():
                    d[k.strip()] = _scalar(v)
                stack.append((indent, d))
                # inline continuation keys on following more-indented lines attach to d
            else:
                parent.append(_scalar(item_text))
        else:
            k, _, v = content.partition(":")
            k = k.strip()
            if v.strip():
                parent[k] = _scalar(v)
            else:
                # container: dict unless next line at deeper indent starts with '-'
                idx = lines.index(ln)
                child: Any = {}
                for nxt in lines[idx + 1 :]:
                    nxt_indent = len(nxt) - len(nxt.lstrip())
                    if nxt_indent <= indent:
                        break
                    child = [] if nxt.strip().startswith("- ") else {}
                    break
                parent[k] = child
                stack.append((indent, child))
    return root
