"""Edge config-stack semantics: dual-schema (v2/v3) firewall + SNMP + QOS.

The reference handles two coexisting config-schema generations by runtime
branching on ``edge_config_stack[0]['schemaVersion'] != "2.0.0"``
(powerbi_main_fun.py:1982, :2313) — flagged in SURVEY.md §7's risk register
as the easy-to-get-subtly-wrong piece. The Spark-first restatement:

- **One superset schema** (`CONFIG_STACK_SCHEMA`): a module's ``data``
  declares BOTH generations' fields as nullable siblings (v2's flat
  ``inbound``/``outbound`` rule arrays next to v3's ``segments[]``).
  ``from_json`` in PERMISSIVE mode nulls whatever a given payload lacks —
  no KeyError tolerance needed.
- **Branch columns, not branch code**: every derived value is a single
  ``when(version == '2.0.0', v2_expr).otherwise(v3_expr)`` column — both
  expressions always typecheck, the branch picks per row.
- **Profile fallback** (F26/F27): edge-specific value if set, else base
  profile (``coalesce`` over the two array positions) — the stack is
  ``[Edge Specific Profile, base profile]`` (P9,
  powerbi_main_fun.py:1651-1652, :2203).

Semantics mirrored (file:line into the reference):
- firewall rule counts over v2 in/out arrays vs v3 per-segment arrays
  (process_fw, powerbi_main_fun.py:2368-2398; v2 counts :1146-1167)
- firewall enabled/stateful edge→profile coalesce
  (update_segment_firewall, :2313-2337)
- SNMPv3 enabled with profile fallback (snmpv3_status, :2264-2305)
- business-policy counts: flat rules + per-segment rules
  (:1347-1362, process_segment_pb :2196-2227)

No caller yet: feeding it means adding ``configuration`` to the edge
fetch's projection, which changes the landed tables; until then it is the
reference's config-stack branch (powerbi_main_fun.py:1982) on its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RULE = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("appid", T.IntegerType()),
    ]
)

_SEGMENT = T.StructType(
    [
        T.StructField("segmentId", T.IntegerType()),
        T.StructField("inbound", T.ArrayType(_RULE)),
        T.StructField("outbound", T.ArrayType(_RULE)),
        T.StructField("rules", T.ArrayType(_RULE)),
        T.StructField(
            "firewall",
            T.StructType(
                [
                    T.StructField("enabled", T.BooleanType()),
                    T.StructField("stateful", T.BooleanType()),
                ]
            ),
        ),
    ]
)

# superset: v2 flat fields AND v3 segments coexist as nullable siblings
_MODULE_DATA = T.StructType(
    [
        T.StructField("enabled", T.BooleanType()),
        T.StructField("stateful", T.BooleanType()),
        T.StructField("inbound", T.ArrayType(_RULE)),
        T.StructField("outbound", T.ArrayType(_RULE)),
        T.StructField("rules", T.ArrayType(_RULE)),
        T.StructField("segments", T.ArrayType(_SEGMENT)),
        T.StructField(
            "snmp",
            T.StructType(
                [
                    T.StructField(
                        "snmpv3",
                        T.StructType([T.StructField("enabled", T.BooleanType())]),
                    )
                ]
            ),
        ),
    ]
)

_MODULE = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("data", _MODULE_DATA),
    ]
)

CONFIG_STACK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("schemaVersion", T.StringType()),
            T.StructField("modules", T.ArrayType(_MODULE)),
        ]
    )
)


def _module(profile: Column, module_name: str) -> Column:
    """P8 module selector: the module struct whose name matches, else NULL."""
    return F.try_element_at(
        F.filter(
            F.coalesce(profile["modules"], F.array().cast(T.ArrayType(_MODULE))),
            lambda m: m["name"] == module_name,
        ),
        F.lit(1),
    )


def _sz(arr: Column) -> Column:
    """NULL-safe array length (absent array counts 0 rules)."""
    return F.coalesce(F.size(arr), F.lit(0))


def _fw_rule_count(data: Column, is_v2: Column) -> Column:
    """v2: |inbound| + |outbound|; v3: Σ per-segment |inbound| + |outbound|."""
    v2 = _sz(data["inbound"]) + _sz(data["outbound"])
    v3 = F.aggregate(
        F.coalesce(data["segments"], F.array().cast(T.ArrayType(_SEGMENT))),
        F.lit(0),
        lambda acc, s: acc + _sz(s["inbound"]) + _sz(s["outbound"]),
    )
    return F.when(data.isNull(), F.lit(0)).otherwise(F.when(is_v2, v2).otherwise(v3))


def _policy_count(data: Column) -> Column:
    """Business policies: flat rules + per-segment rules (both generations
    simply sum whatever is present — powerbi_main_fun.py:1347-1362)."""
    flat = _sz(data["rules"])
    seg = F.aggregate(
        F.coalesce(data["segments"], F.array().cast(T.ArrayType(_SEGMENT))),
        F.lit(0),
        lambda acc, s: acc + _sz(s["rules"]),
    )
    return F.when(data.isNull(), F.lit(0)).otherwise(flat + seg)


def config_stack_summary(df: DataFrame, stack_json: str = "config_stack") -> DataFrame:
    """Parse + summarize an edge config stack column (JSON string).

    Adds: schema_version, fw_rule_count (version-branched), fw_enabled /
    fw_stateful (edge→profile coalesce), snmpv3_enabled (edge→profile
    fallback), n_policies (edge-specific profile).
    """
    stack = F.from_json(F.col(stack_json), CONFIG_STACK_SCHEMA)
    edge_prof = F.try_element_at(stack, F.lit(1))  # "Edge Specific Profile" (P9)
    base_prof = F.try_element_at(stack, F.lit(2))
    is_v2 = F.coalesce(edge_prof["schemaVersion"], base_prof["schemaVersion"]) == "2.0.0"

    fw_e = _module(edge_prof, "firewall")["data"]
    fw_b = _module(base_prof, "firewall")["data"]
    qos_e = _module(edge_prof, "QOS")["data"]
    dev_e = _module(edge_prof, "deviceSettings")["data"]
    dev_b = _module(base_prof, "deviceSettings")["data"]

    return df.select(
        "*",
        F.coalesce(edge_prof["schemaVersion"], base_prof["schemaVersion"]).alias(
            "schema_version"
        ),
        (_fw_rule_count(fw_e, is_v2) + _fw_rule_count(fw_b, is_v2)).alias(
            "fw_rule_count"
        ),
        F.coalesce(fw_e["enabled"], fw_b["enabled"]).alias("fw_enabled"),  # F27
        F.coalesce(fw_e["stateful"], fw_b["stateful"]).alias("fw_stateful"),
        F.coalesce(  # F26
            dev_e["snmp"]["snmpv3"]["enabled"], dev_b["snmp"]["snmpv3"]["enabled"]
        ).alias("snmpv3_enabled"),
        _policy_count(qos_e).alias("n_policies"),
    )
