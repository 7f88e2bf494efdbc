"""EVM precompile / system-contract registry (substrate/precompiles/).

The reference loads precompile ABIs into its contractabi table once
("updatePrecompiles", precompiles/README.md) so getAddressContract can
mark system addresses isSystemContract=true and decode calls against
them; XC-20 assets have no stored contract at all — their address IS the
asset id (0xFFFFFFFF ++ u128, chains/moonbeam.js:469,726) and IERC20.json
is applied programmatically (README.md "XC20 assets ... utilize
IERC20.json").

Spark shape: the registry is a literal broadcast dim (a few dozen rows
per chain — addresses from the reference's README tables, which mirror
the public Moonbeam/Astar docs); the XC-20 rule and IERC20 selector
decode are pure column expressions, so decorating a day of transactions
is one BroadcastHashJoin plus codegen — no Python, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from polkadot_etl_spark.functions.evm import ERC20_SELECTORS, compute_selector
from polkadot_etl_spark.sources.tables import local_frame

# (chain_id, address, name, abi) — precompiles/README.md:5-14 (moonbeam,
# matching docs.moonbeam.network) and :20-33 (astar, matching
# docs.astar.network); the ABI column names the precompiles/*.json file
# the reference would load for the address.
_ETH_NATIVE = [
    ("0x0000000000000000000000000000000000000001", "ECRecover"),
    ("0x0000000000000000000000000000000000000002", "Sha256"),
    ("0x0000000000000000000000000000000000000003", "Ripemd160"),
    ("0x0000000000000000000000000000000000000004", "Identity"),
    ("0x0000000000000000000000000000000000000005", "Modexp"),
    ("0x0000000000000000000000000000000000000006", "Bn128Add"),
    ("0x0000000000000000000000000000000000000007", "Bn128Mul"),
    ("0x0000000000000000000000000000000000000008", "Bn128Pairing"),
]

PRECOMPILES: list[tuple[int, str, str, str | None]] = (
    [(2004, a, n, None) for a, n in _ETH_NATIVE]
    + [
        (2004, "0x0000000000000000000000000000000000000800", "staking", "StakingInterface"),
        (2004, "0x0000000000000000000000000000000000000802", "native token", "ERC20"),
        (2004, "0x0000000000000000000000000000000000000803", "democracy", "Democracy"),
        (2004, "0x0000000000000000000000000000000000000804", "xtokens", "XTokens"),
        (2004, "0x0000000000000000000000000000000000000808", "batch", "Batch"),
        (2004, "0x0000000000000000000000000000000000000809", "randomness", "Randomness"),
        (2004, "0x000000000000000000000000000000000000080a", "call permit", "CallPermit"),
        (2004, "0x000000000000000000000000000000000000080b", "proxy", "Proxy"),
        (2004, "0x000000000000000000000000000000000000080d", "xcmtransactor", "XCMTransactorV2"),
    ]
    + [(2006, a, n, None) for a, n in _ETH_NATIVE]
    + [
        (2006, "0x0000000000000000000000000000000000005001", "DappsStaking", "DappsStaking"),
        (2006, "0x0000000000000000000000000000000000005002", "Sr25519", "SR25519"),
        (2006, "0x0000000000000000000000000000000000005003", "SubstrateEcdsa", "SubstrateECDSA"),
        (2006, "0x0000000000000000000000000000000000005004", "XCM", "XCM"),
        (2006, "0x0000000000000000000000000000000000005005", "XVM", "XVM"),
    ]
)

# IERC20.json surface applied programmatically to XC-20 addresses —
# selectors computed from the public ABI signatures (equal to the
# reference's published literals, asserted in tests/test_evm.py).
IERC20_SELECTORS: dict[str, str] = {
    **ERC20_SELECTORS,
    "balanceOf": compute_selector("balanceOf(address)"),  # 0x70a08231
    "totalSupply": compute_selector("totalSupply()"),  # 0x18160ddd
    "allowance": compute_selector("allowance(address,address)"),  # 0xdd62ed3e
    "name": compute_selector("name()"),  # 0x06fdde03
    "symbol": compute_selector("symbol()"),  # 0x95d89b41
    "decimals": compute_selector("decimals()"),  # 0x313ce567
}


def precompile_dim(spark: SparkSession, chain_id: int | None = None) -> DataFrame:
    """The registry as a broadcast-ready dim (the contractabi rows the
    reference loads once)."""
    rows = [r for r in PRECOMPILES if chain_id is None or r[0] == chain_id]
    return local_frame(
        spark,
        rows, "chain_id int, address string, precompile_name string, abi string"
    )


def is_xc20(addr: Column) -> Column:
    """XC-20 rule: 0xFFFFFFFF ++ 16-byte asset id (the inverse of
    MoonbeamParser.xc20_contract_address; chains/moonbeam.js:469,726)."""
    return F.lower(addr).startswith("0xffffffff") & (F.length(addr) == 42)


def xc20_asset_id(addr: Column) -> Column:
    """u128 asset id embedded in an XC-20 address (low 16 bytes). Ids
    past 2^63 don't occur (Moonbeam assigns them from a counter), so the
    bigint conv is exact in practice; NULL on overflow, never wrong."""
    return F.when(is_xc20(addr), F.conv(F.substring(F.lower(addr), 11, 32), 16, 10).try_cast("long"))


def decorate_system_contracts(
    txs: DataFrame, spark: SparkSession, chain_id: int, to_col: str = "to_address"
) -> DataFrame:
    """getAddressContract over a transactions frame: broadcast-join the
    precompile registry (isSystemContract=true for hits), apply the
    XC-20 address rule, and name the IERC20 method for XC-20 calls from
    the 4-byte selector — all in one pass, shuffle-free."""
    dim = F.broadcast(
        precompile_dim(spark, chain_id).select(
            F.col("address").alias("__pa"),
            F.col("precompile_name"),
            F.col("abi").alias("precompile_abi"),
        )
    )
    to_l = F.lower(F.col(to_col))
    out = txs.join(dim, to_l == F.col("__pa"), "left").drop("__pa")
    sel = F.lower(F.substring(F.col("input"), 1, 10))
    method = None
    for name, s in sorted(IERC20_SELECTORS.items()):
        cond = sel == s
        method = F.when(cond, F.lit(name)) if method is None else method.when(cond, F.lit(name))
    return out.select(
        "*",
        (F.col("precompile_name").isNotNull() | is_xc20(to_l)).alias("is_system_contract"),
        xc20_asset_id(to_l).alias("xc20_asset_id"),
        F.when(is_xc20(to_l), method).alias("ierc20_method"),
    )
