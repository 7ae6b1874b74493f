"""Config compile-time behavior: validation (O6), case-insensitivity
normalization (O5), Go-layout translation (O8 prerequisite)."""

import pytest

from takuan_spark.config import (
    ConfigError,
    ParserSpec,
    RuleSpec,
    SensorSpec,
    go_layout_to_java,
    layout_has_year,
    load_config,
    normalize_case_insensitive,
)


def test_go_layout_sshd():
    assert go_layout_to_java("2006 Jan _2 15:04:05") == "yyyy MMM d HH:mm:ss"


def test_go_layout_nginx():
    assert go_layout_to_java("02/Jan/2006:15:04:05 -0700") == "dd/MMM/yyyy:HH:mm:ss xx"


def test_go_layout_misc():
    assert go_layout_to_java("2006-01-02 15:04:05.000") == "yyyy-MM-dd HH:mm:ss.SSS"
    assert go_layout_to_java("2006-01-02T15:04:05Z07:00") == "yyyy-MM-dd'T'HH:mm:ssXXX"


def test_layout_has_year():
    assert layout_has_year("2006 Jan _2")
    assert not layout_has_year("Jan _2 15:04:05")


def test_case_insensitive_prefix():
    # ref: core/parser.go:44-47
    assert normalize_case_insensitive("abc") == "(?i)abc"
    assert normalize_case_insensitive("(?i)abc") == "(?i)abc"


def test_rules_compile_case_sensitive():
    """Reference parity: only the PARSER expression gets (?i)
    (parser.go:44-47); rule expressions compile verbatim (rule.go:17-21),
    so 'Authentication failure' must NOT match 'authentication failure'."""
    from takuan_spark.config import ParserSpec, RuleSpec

    rule = RuleSpec(name="r", token="msg", expression="Authentication (failure|failed)")
    assert rule.compiled_expression() == "Authentication (failure|failed)"
    parser = ParserSpec(
        expression="^(.+) (.+)$",
        datetime_format="2006",
        tokens={"datetime": 1, "address": 2},
    )
    assert parser.compiled_expression().startswith("(?i)")


def test_mixed_token_types_raise_config_error():
    """A regex parser whose tokens mix strings with ints must raise
    ConfigError, not TypeError from max() over mixed types."""
    from takuan_spark.config import ConfigError, ParserSpec

    p = ParserSpec(
        expression="^(.+) (.+)$",
        datetime_format="2006",
        tokens={"datetime": 1, "address": "$.ip"},
    )
    with pytest.raises(ConfigError, match="group index"):
        p.validate()


def test_mandatory_token_validation():
    # ref: core/parser.go:14-17,32-36
    p = ParserSpec(expression="^(.+)$", datetime_format="2006", tokens={"datetime": 1})
    with pytest.raises(ConfigError, match="address"):
        p.validate()


def test_token_index_beyond_groups_rejected():
    p = ParserSpec(
        expression="^(.+) (.+)$",
        datetime_format="2006",
        tokens={"address": 1, "datetime": 3},
    )
    with pytest.raises(ConfigError, match="exceeds"):
        p.validate()


def test_rule_unknown_token_rejected():
    sensor = SensorSpec(
        name="s",
        filename="/tmp/x",
        parser=ParserSpec(
            expression="^(.+) (.+)$",
            datetime_format="2006",
            tokens={"address": 1, "datetime": 2},
        ),
        rules=[RuleSpec(name="r", token="nope", expression=".*")],
    )
    with pytest.raises(ConfigError, match="unknown token"):
        sensor.validate()


def test_load_reference_config(config_path):
    conf = load_config(config_path, year=2026)
    assert [s.name for s in conf.enabled_sensors()] == ["ssh", "http"]
    ssh = conf.sensors[0]
    assert ssh.parser.tokens == {"datetime": 1, "message": 2, "address": 3}
    assert [r.name for r in ssh.rules] == ["auth-failure", "user-enumeration"]
    assert [r.name for r in conf.sensors[1].rules] == ["php_files_scan", "not_a_browser"]
