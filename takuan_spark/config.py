"""Pipeline configuration: the engine's "query language".

The reference compiles a YAML config of sensors (file + regex parser +
rules) into a running pipeline (ref: core/config.go:10-54,
core/sensor.go:27-40). We keep the exact same YAML shape and compile it
to DataFrame plans instead (see plans/compiler.py).

This module is the *analysis* phase: schema of the config, mandatory-token
validation (ref: core/parser.go:14-17,32-36), case-insensitivity
normalization (ref: core/parser.go:44-47), and the Go-time-layout →
JDK ``DateTimeFormatter`` translation the reference never needed because
it parsed with Go layouts directly (ref: core/sensor.go:98).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

try:  # PyYAML ships with pyspark environments, but gate it anyway.
    import yaml
except ImportError:  # pragma: no cover
    yaml = None

MANDATORY_TOKENS = ("address", "datetime")


class ConfigError(ValueError):
    """Raised at compile time for invalid pipeline configs."""


# Go reference-time layout fragments → JDK DateTimeFormatter patterns.
# Ordered longest-first so greedy replacement is unambiguous.
_GO_TO_JAVA = [
    ("2006", "yyyy"),
    ("January", "MMMM"),
    ("Jan", "MMM"),
    ("Monday", "EEEE"),
    ("Mon", "EEE"),
    ("15", "HH"),
    ("01", "MM"),
    ("02", "dd"),
    ("03", "hh"),
    ("04", "mm"),
    ("05", "ss"),
    (".000000", ".SSSSSS"),
    (".000", ".SSS"),
    ("-07:00", "xxx"),
    ("-0700", "xx"),
    ("Z07:00", "XXX"),
    ("Z0700", "XX"),
    ("MST", "zzz"),
    ("PM", "a"),
    # _2 = space-padded day; JDK has no space-padded numeric, so we emit
    # single "d" and the parse stage squeezes runs of spaces first.
    ("_2", "d"),
    ("1", "M"),
    ("2", "d"),
    ("3", "h"),
    ("4", "m"),
    ("5", "s"),
]


def go_layout_to_java(layout: str) -> str:
    """Translate a Go time layout (e.g. ``2006 Jan _2 15:04:05`` or
    ``02/Jan/2006:15:04:05 -0700``) into a JDK pattern for
    ``F.to_timestamp``. Literal runs that contain pattern letters are not
    expected in log formats (the reference's two formats don't have any).
    """
    out: list[str] = []
    i = 0
    while i < len(layout):
        for go, java in _GO_TO_JAVA:
            if layout.startswith(go, i):
                out.append(java)
                i += len(go)
                break
        else:
            ch = layout[i]
            # Escape letters that would otherwise be pattern chars in JDK.
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def layout_has_year(layout: str) -> bool:
    return "2006" in layout


@dataclass
class RuleSpec:
    """A filter predicate: regex test of one named token.

    Ref: core/rule.go:7-31 (compile at 17-21, match at 23-31).
    """

    name: str
    token: str
    expression: str
    description: str = ""

    def compiled_expression(self) -> str:
        # Rules compile as-is: the reference only prepends ``(?i)`` to the
        # *parser* expression (core/parser.go:44-47); rule expressions are
        # compiled verbatim (core/rule.go:17-21), so case-sensitive rule
        # patterns must stay case-sensitive here too.
        return self.expression


@dataclass
class ParserSpec:
    """A tokenize projection: log line → named columns.

    Two kinds:
    - ``regex`` (the reference's model, ref: core/parser.go:23-80):
      ``tokens`` maps token name → capture-group index, config-defined
      per sensor (config.example.yml:35-38, 57-63).
    - ``json`` (engine extension for structured logs): ``tokens`` maps
      token name → JSON path (``$.field`` or bare field name).
    """

    expression: str
    datetime_format: str
    tokens: dict[str, int | str]
    kind: str = "regex"

    def validate(self) -> None:
        if self.kind not in ("regex", "json"):
            raise ConfigError(f"unknown parser format {self.kind!r}")
        # Mandatory-column validation, ref core/parser.go:14-17,32-36.
        for t in MANDATORY_TOKENS:
            if t not in self.tokens:
                raise ConfigError(f"mandatory token {t!r} not found in parser")
        if self.kind == "json":
            for name, path in self.tokens.items():
                if not isinstance(path, str) or not path:
                    raise ConfigError(
                        f"json token {name!r} needs a field path, got {path!r}"
                    )
            return
        # Per-token type/range checks run BEFORE the max() capture-group
        # check so a mixed str/int tokens map raises ConfigError, not
        # TypeError from max().
        for name, idx in self.tokens.items():
            if not isinstance(idx, int):
                raise ConfigError(
                    f"regex token {name!r} needs a group index, got {idx!r}"
                )
            if idx < 1:
                raise ConfigError(f"token {name!r} has invalid group index {idx}")
        n_groups = re.compile(self.compiled_expression()).groups
        max_index = max(self.tokens.values())
        if max_index > n_groups:
            raise ConfigError(
                f"token index {max_index} exceeds the {n_groups} capture "
                f"group(s) of {self.expression!r}"
            )

    def json_path(self, token: str) -> str:
        path = str(self.tokens[token])
        return path if path.startswith("$") else f"$.{path}"

    def compiled_expression(self) -> str:
        return normalize_case_insensitive(self.expression)

    def java_datetime_format(self) -> str:
        return go_layout_to_java(self.datetime_format)

    def datetime_has_year(self) -> bool:
        return layout_has_year(self.datetime_format)


@dataclass
class SensorSpec:
    """One source: a log file/directory + parser + ordered rules.

    Ref: core/sensor.go:15-40. ``filename`` is interpreted as a directory
    (or glob) of log chunks — Spark's file source consumes whole files,
    which is the scalable contract (SURVEY.md §7 hard parts).
    """

    name: str
    filename: str
    parser: ParserSpec
    rules: list[RuleSpec] = field(default_factory=list)
    enabled: bool = True

    def validate(self) -> None:
        if not self.enabled:
            return
        self.parser.validate()
        names = [r.name for r in self.rules]
        if len(set(names)) != len(names):
            raise ConfigError(f"duplicate rule names in sensor {self.name!r}")
        for r in self.rules:
            if r.token not in self.parser.tokens:
                raise ConfigError(
                    f"rule {r.name!r} references unknown token {r.token!r}"
                )
            re.compile(r.compiled_expression())


@dataclass
class PipelineConfig:
    """Top-level config, same shape as the reference's YAML.

    Ref: core/config.go:10-17. Database/reporter/twitter endpoints become
    sink settings; ``year`` pins the year-injection repair so plans are
    reproducible (SURVEY.md §7: make it a plan parameter, not wall clock).
    """

    node_name: str
    sensors: list[SensorSpec] = field(default_factory=list)
    flush_period_secs: int = 10
    year: int = 2026

    def validate(self) -> None:
        for s in self.sensors:
            s.validate()

    def enabled_sensors(self) -> list[SensorSpec]:
        return [s for s in self.sensors if s.enabled]


def normalize_case_insensitive(expr: str) -> str:
    """Prefix ``(?i)`` if absent — ref core/parser.go:44-47.

    Valid in both Go RE2 and Java regex (the reference's patterns sit in
    the common subset of the two dialects).
    """
    return expr if expr.startswith("(?i)") else "(?i)" + expr


def load_config(path_or_yaml: str, *, year: int = 2026) -> PipelineConfig:
    """Load and validate a pipeline config from a YAML path or string."""
    if yaml is None:  # pragma: no cover
        raise ImportError("PyYAML is required to load YAML configs")
    if "\n" in path_or_yaml:
        raw = yaml.safe_load(path_or_yaml)
    else:
        with open(path_or_yaml) as fh:
            raw = yaml.safe_load(fh)
    return config_from_dict(raw, year=year)


def config_from_dict(raw: dict, *, year: int = 2026) -> PipelineConfig:
    sensors = []
    for s in raw.get("sensors", []):
        p = s["parser"]
        parser = ParserSpec(
            expression=p.get("expression", ""),
            datetime_format=p["datetime_format"],
            tokens=dict(p["tokens"]),
            kind=p.get("format", "regex"),
        )
        rules = [
            RuleSpec(
                name=r["name"],
                token=r["token"],
                expression=r["expression"],
                description=r.get("description", ""),
            )
            for r in s.get("rules", [])
        ]
        sensors.append(
            SensorSpec(
                name=s["name"],
                filename=s["filename"],
                parser=parser,
                rules=rules,
                enabled=s.get("enabled", True),
            )
        )
    conf = PipelineConfig(
        node_name=raw.get("name", "local"),
        sensors=sensors,
        flush_period_secs=raw.get("database", {}).get("period", 10),
        year=year,
    )
    conf.validate()
    return conf
