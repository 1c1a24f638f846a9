"""Tenant plug-in registries — the engine's table-level UDF surface
(SURVEY §2.8 U1-U3; U4 custom validation rules are
``DataValidator.check_custom``).

The extension contract is the reference's: a *transfer function* is a
whole-table transform ``fn(input_dfs: dict[str, DataFrame],
partition_date: str, tenant_id: str) -> DataFrame`` registered per
asset name, resolved tenant-custom-first then common (reference:
signature etl/factories/asset_factory.py:209, registries
etl/config/tenant_loader.py:35-168). Here the frames are Spark
DataFrames, so a transfer function builds a lazy Catalyst plan — the
engine never sees imperative row code unless the tenant explicitly
reaches for mapInPandas inside their function.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from dagster_etl_spark.orchestration.config import LoadConfig

TransferFn = Callable[[dict[str, DataFrame], str, str], DataFrame]

# U1 common registry (reference: tenant_loader.py:35-39)
COMMON_TRANSFER_FUNCTIONS: dict[str, TransferFn] = {}


@dataclass
class TenantPlugins:
    """Per-tenant overrides (reference: etl/tenants/project_01/__init__.py)."""

    transfer_functions: dict[str, TransferFn] = field(default_factory=dict)  # U1
    extract_queries: dict[str, str] = field(default_factory=dict)  # U2
    load_configs: dict[str, LoadConfig] = field(default_factory=dict)  # U3


_TENANT_PLUGINS: dict[str, TenantPlugins] = {}


def register_common_transfer(name: str) -> Callable[[TransferFn], TransferFn]:
    def deco(fn: TransferFn) -> TransferFn:
        COMMON_TRANSFER_FUNCTIONS[name] = fn
        return fn

    return deco


def register_tenant_plugins(tenant_id: str, plugins: TenantPlugins) -> None:
    _TENANT_PLUGINS[tenant_id] = plugins


def tenant_plugins(tenant_id: str) -> TenantPlugins:
    return _TENANT_PLUGINS.get(tenant_id, TenantPlugins())


def resolve_transfer(tenant_id: str, name: str) -> TransferFn:
    """Resolution order: tenant custom > common (reference:
    tenant_loader.py:117-150)."""
    plugins = tenant_plugins(tenant_id)
    if name in plugins.transfer_functions:
        return plugins.transfer_functions[name]
    if name in COMMON_TRANSFER_FUNCTIONS:
        return COMMON_TRANSFER_FUNCTIONS[name]
    raise KeyError(
        f"no transfer function {name!r} for tenant {tenant_id!r} "
        f"(custom: {sorted(plugins.transfer_functions)}, "
        f"common: {sorted(COMMON_TRANSFER_FUNCTIONS)})"
    )


def resolve_extract_query(tenant_id: str, pipeline_name: str) -> str | None:
    """U2: custom extract SQL, else None (caller falls back to
    config.query, else full-table scan)."""
    return tenant_plugins(tenant_id).extract_queries.get(pipeline_name)


def resolve_load_config(tenant_id: str, pipeline_name: str) -> LoadConfig | None:
    """U3: custom load target, else None (caller uses config.load)."""
    return tenant_plugins(tenant_id).load_configs.get(pipeline_name)
