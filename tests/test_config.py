"""Config loading (GushConfig analog — reference
util/GushConfig.scala:20-22,37-59). Pure python, no Spark."""

import pytest

from gush_spark.config import DEFAULT_CONFIG, GushSparkConfig, duration_us


def test_defaults():
    c = DEFAULT_CONFIG
    assert c.ignored_hosts == () and c.ignored_url_prefixes == ()
    assert c.window_duration == "10 minutes"
    assert c.max_files_per_trigger == 4


def test_from_yaml_subset(tmp_path):
    p = tmp_path / "gush.yml"
    p.write_text(
        """
# comment
ignored_hosts: [spam.example, ads.example]
ignored_url_prefixes: [https://spam]
window_duration: 5 minutes
max_files_per_trigger: 2
skew_salt_buckets: 16
custom_key: custom_value
slide_duration: 5 minutes
hot_host_threshold: 100000
"""
    )
    c = GushSparkConfig.from_yaml(p)
    assert c.ignored_hosts == ("spam.example", "ads.example")
    assert c.ignored_url_prefixes == ("https://spam",)
    assert c.window_duration == "5 minutes"
    assert c.max_files_per_trigger == 2
    assert c.skew_salt_buckets == 16
    assert c.extra["custom_key"] == "custom_value"
    # keys of removed fields still load, into extra
    assert c.extra["slide_duration"] == "5 minutes"
    assert c.extra["hot_host_threshold"] == "100000"
    # keys the file leaves out keep the dataclass defaults
    assert c.watermark_delay == DEFAULT_CONFIG.watermark_delay
    assert c.input_format == DEFAULT_CONFIG.input_format


@pytest.mark.parametrize("key", ["window_duration", "watermark_delay"])
@pytest.mark.parametrize("value", ["ten minutes", "1.5 hours", "10 mins"])
def test_from_yaml_rejects_malformed_durations(tmp_path, key, value):
    p = tmp_path / "gush.yml"
    p.write_text(f"ignored_hosts: [spam.example]\n{key}: {value}\n")
    with pytest.raises(ValueError, match=value):
        GushSparkConfig.from_yaml(p)


def test_from_yaml_empty_lists(tmp_path):
    p = tmp_path / "gush.yml"
    p.write_text("ignored_hosts: []\n")
    c = GushSparkConfig.from_yaml(p)
    assert c.ignored_hosts == ()


MIN_US = 60 * 1_000_000


@pytest.mark.parametrize(
    "text, us",
    [
        # watermark delays the pipelines size retention from
        ("10 minutes", 10 * MIN_US),
        ("1 minute", MIN_US),
        ("4 hours", 240 * MIN_US),
        ("30 minutes", 30 * MIN_US),
        ("90 seconds", 90 * 1_000_000),
        ("2 hours", 120 * MIN_US),
        ("1 day", 1440 * MIN_US),
        ("500 milliseconds", 500_000),
        ("0 seconds", 0),
        (" 10 Minutes ", 10 * MIN_US),
        ("2 HOURS", 120 * MIN_US),
    ],
)
def test_duration_us_parses_spark_durations(text, us):
    assert duration_us(text) == us


@pytest.mark.parametrize("text", ["3 fortnights", "1.5 hours", "ten minutes", "10", ""])
def test_duration_us_rejects_other_strings(text):
    with pytest.raises(ValueError):
        duration_us(text)
