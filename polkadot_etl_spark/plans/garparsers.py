"""Per-chain XCM asset-registry (gar) parsers — the chain-parser plugin
layer of the reference's xcm-global-asset-registry crawler
(gar/chainParsers/: common_chainparser.js, statemint.js, hydra.js,
phala.js, ...).

The reference walks two on-chain storage maps per parachain:

- the LOCAL asset registry ("gar": e.g. assets:metadata) — asset id →
  {symbol, name, decimals} (common_chainparser.js:120-158
  processGarAssetPallet);
- the CROSS-CHAIN registry ("xcGar": e.g. assetRegistry:assetLocations)
  — asset id → XCM multilocation, joined against the local registry so
  only known assets register (processXcmAssetIdType,
  common_chainparser.js:576-688; processXcmAssetIdToLocation :268-380).

Chains differ in where the maps live and how the value JSON is shaped —
that is what the per-chain subclasses declare (gar/chainParsers/
statemint.js:1 assets:metadata + manual USDT row; hydra.js:1
assetRegistry:assetMetadataMap + assetLocations with version-wrapped
locations; phala.js:1 assets:metadata + assetsRegistry:registryInfoByIds
with a {location, properties} value).

Spark shape: inputs are state-entry frames (key_args JSON array + value
JSON — the same fixture-fed contract as plans/snapshots.py S10); every
parse is native JSON column work (get_json_object / from_json), zero
Python; the known-asset gate is a broadcast join (registries are
dim-scale, ~1e3 rows/chain); output rows feed straight into
plans.xcmgar.build_xcm_asset_registry, whose Arrow codec derives the
canonical interior key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polkadot_etl_spark.sources.tables import local_frame

# ---------------------------------------------------------------------------
# Corpus-independent expression memo (r14, VERDICT #4 / guide §1.2).
#
# Building a gar registry frame costs ~9,000 py4j round trips — every
# invocation reconstructed the SAME name-based expression trees (the
# parser selects below are pure functions of the parser CLASS, not of
# the data), and the instrumented gar_chain/longtail builds spent
# 1.7–2.0 s in that construction alone. Column objects are immutable
# unresolved trees: reusing one across plans yields a byte-identical
# plan (name resolution happens at analysis, per plan). So each
# corpus-independent tree is built ONCE per (SparkContext, site) and
# reused — plan machinery, not result caching: every invocation still
# assembles, analyzes and executes its own plan from the parquet
# inputs.
#
# Held per live SparkContext so a restarted JVM can never be served
# stale py4j references.
# ---------------------------------------------------------------------------

from polkadot_etl_spark.plans.exprmemo import expr_cache as _expr_cache  # noqa: E402


def _cleaned_asset_id(raw: Column) -> Column:
    """'1,984' → 1984 (xcmgarTool.cleanedAssetID — comma-formatted
    toHuman ids cleaned before use, common_chainparser.js:123)."""
    return F.regexp_replace(raw, ",", "").try_cast("long")


def _dechex_int(raw: Column) -> Column:
    """Decimal-or-hex string → int (xcmgarTool.dechexToInt — decimals
    fields arrive as 12 or '0x0c' depending on the chain's metadata)."""
    return (
        F.when(raw.startswith("0x"), F.conv(F.substring(raw, 3, 32), 16, 10).try_cast("long"))
        .otherwise(F.regexp_replace(raw, ",", "").try_cast("long"))
        .cast("int")
    )


def _unwrap_location(value: Column) -> Column:
    """XCM location value → the inner {parents, interior} JSON.

    Handles the three shapes the reference unwraps
    (common_chainparser.js:598-613 `xcmAssetJSON.xcm ?? xcmAssetJSON`;
    :299-301 version key `Object.keys(xcmAssetType)[0]`):
    - direct  {"parents":..,"interior":..}
    - xcm     {"xcm": {...}}
    - version {"V0"/"V1"/..: {...}} (any single version key)
    """
    versioned = F.element_at(F.map_values(F.from_json(value, "map<string,string>")), 1)
    return F.when(F.get_json_object(value, "$.parents").isNotNull(), value).otherwise(
        F.coalesce(F.get_json_object(value, "$.xcm"), versioned)
    )


def _numeric_xc_location(entries: DataFrame) -> DataFrame:
    """The common xc-map shape: numeric asset-id key, (possibly
    version-wrapped) multilocation value — hydra assetLocations, moonbeam
    assetIdType, calamari assetIdLocation, parallel assetIdType all read
    this way."""
    cols = _expr_cache(
        "numeric_xc_location",
        lambda: [
            _cleaned_asset_id(F.get_json_object("key_args", "$[0]")).alias("asset_id"),
            _unwrap_location(F.col("value")).alias("multilocation"),
        ],
    )
    return entries.select(*cols).where(F.col("multilocation").isNotNull())


class GarParser:
    """Generic assets-pallet registry parser (processCommonAssetPalletGar,
    common_chainparser.js:176-190) — chains/statemint/phala/astar/moonbeam
    all read assets:metadata with this shape."""

    parser_name = "Common"
    relay_chain = "polkadot"
    para_id: int = 0
    gar_pallet = "assets"
    gar_storage = "metadata"
    xc_gar_pallet: str | None = None
    xc_gar_storage: str | None = None
    # processXcmAssetIdType strips the xc-wrapper prefix from the display
    # symbol (common_chainparser.js:610); processXcmAssetIdToLocation
    # (:292) does not — subclasses pick per their xc storage shape.
    xc_strip_wrapper = False
    # known-asset join key for the xc gate: numeric id for assets-pallet
    # chains, CurrencyId JSON for ORML tokens-pallet chains
    xc_join_on = "asset_id"
    # native tokens seeded into the local asset map BEFORE parsing, keyed
    # by SYMBOL — system.properties tokenSymbol/tokenDecimals
    # (getSystemProperties, common_chainparser.js:68-101); this is what
    # symbol-keyed manual registrations (astar.js:25-38 ASTR/SDN) attach
    # to. (symbol, decimals) pairs, first entry = the native asset.
    native_tokens: list[tuple[str, int]] = []

    def __init__(self, reference_byte_compat: bool = False):
        # Reproduce the reference's PUBLISHED bytes even where they are
        # documented typos (see DIVERGENCES below) — for consumers doing
        # byte-level comparison against reference-derived data. Default
        # False publishes the corrected form.
        self.reference_byte_compat = reference_byte_compat

    @property
    def manual_relay_chain(self) -> str:
        """Relay under which MANUAL registrations are keyed — equals
        ``relay_chain`` everywhere except documented reference typos
        (ShidenGarParser overrides under byte-compat)."""
        return self.relay_chain

    # ------------------------------------------------------------------ gar

    def parse_gar(self, entries: DataFrame) -> DataFrame:
        """assets:metadata-style map → (asset_id, currency_id, symbol,
        name, decimals). Reference rules (processGarAssetPallet,
        common_chainparser.js:120-158):
        - asset id = cleaned first key arg (commas stripped);
        - an extra ``metadata`` nesting level is unwrapped (kusama-2118
          listen, :135);
        - rows missing symbol or decimals are dropped (:136);
        - missing name falls back to the symbol (kusama-2090 basilisk,
          :137);
        - decimals parse decimal-or-hex (dechexToInt, :141)."""

        def _exprs():
            meta = F.coalesce(F.get_json_object("value", "$.metadata"), F.col("value"))
            aid = _cleaned_asset_id(F.get_json_object("key_args", "$[0]"))
            symbol = F.get_json_object(meta, "$.symbol")
            decimals = _dechex_int(F.get_json_object(meta, "$.decimals"))
            return [
                aid.alias("asset_id"),
                F.concat(F.lit('{"Token":"'), aid.cast("string"), F.lit('"}')).alias(
                    "currency_id"
                ),
                symbol.alias("symbol"),
                F.coalesce(F.get_json_object(meta, "$.name"), symbol).alias("name"),
                decimals.alias("decimals"),
            ]

        cols = _expr_cache(("parse_gar", GarParser), _exprs)
        return entries.select(*cols).where(
            F.col("symbol").isNotNull() & F.col("decimals").isNotNull()
        )

    # ---------------------------------------------------------------- xcGar

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        """Subclass hook: raw xc entries → (asset_id, multilocation JSON,
        xc_name, xc_symbol, xc_decimals — the latter three only for
        value shapes that embed properties)."""
        raise NotImplementedError(f"{self.parser_name} has no xc registry")

    def parse_xc_gar(self, xc_entries: DataFrame, gar: DataFrame) -> DataFrame:
        """XC registrations: location rows gated on the known-asset set —
        the reference skips ids absent from the local registry
        ('AssetInfo unknown -- skip', common_chainparser.js:672-675) —
        with the display symbol taken from the local registry, xc-wrapper
        prefix stripped (:610 symbol.replace('xc','')). Broadcast join:
        both sides are dim-scale. The join key is ``xc_join_on`` —
        numeric asset_id for assets-pallet chains, the CurrencyId JSON
        for ORML chains whose registries key on currency objects."""
        return self._gated_registrations(self._xc_location(xc_entries), gar, "onchain")

    def _gated_registrations(
        self, loc: DataFrame, gar: DataFrame, source: str
    ) -> DataFrame:
        def _dim_cols():
            return [
                F.col(self.xc_join_on).alias("__jk"),
                F.col("currency_id").alias("__cur"),
                F.col("symbol").alias("__sym"),
                F.col("name").alias("__name"),
                F.col("decimals").alias("__dec"),
            ]

        def _out_cols():
            sym = F.col("__sym")
            if self.xc_strip_wrapper:
                # INTENTIONAL divergence: the reference strips the FIRST
                # 'xc' occurrence anywhere (symbol.replace('xc',''),
                # common_chainparser.js:610) so an interior 'xc' in a
                # non-wrapper symbol would mangle ('FOxcBAR' → 'FOBAR');
                # the anchored form only strips the wrapper PREFIX, which
                # is the rule's stated purpose. Symbols differing under
                # the two rules are malformed registrations in the
                # reference too.
                sym = F.regexp_replace(sym, "^xc", "")
            return [
                F.lit(self.relay_chain).alias("relay_chain"),
                F.lit(self.para_id).alias("para_id"),
                F.col("__cur").alias("currency_id"),
                sym.alias("symbol"),
                F.col("__name").alias("name"),
                F.col("__dec").alias("decimals"),
                F.col("multilocation"),
                F.lit(None).cast("string").alias("xc_contract_address"),
                F.lit(source).alias("source"),
            ]

        # keyed on every attribute the trees read, so two instances of
        # one class with different knobs can never share a wrong tree
        dim = F.broadcast(
            gar.select(*_expr_cache(("gated_dim", self.xc_join_on), _dim_cols))
        )
        joined = loc.join(dim, loc[self.xc_join_on] == F.col("__jk"), "inner")
        out_key = (
            "gated_out",
            self.relay_chain,
            self.para_id,
            self.xc_strip_wrapper,
            source,
        )
        return joined.select(*_expr_cache(out_key, _out_cols))

    # -------------------------------------------------------------- augment

    def augment_from_xtokens(self, extrinsics: DataFrame, gar: DataFrame) -> DataFrame:
        """The optional AUGMENT step: infer (local currency id → XCM
        location) linkage from outgoing xTokens extrinsics when a chain
        publishes no (or an incomplete) xc registry
        (processOutgoingXTokens, common_chainparser.js:1093-1207; wired
        by clover.js:137-152 / origintrail.js:124-139 / robonomics'
        comment block).

        Reference rules reproduced (the transferMulticurrencies branch
        is an evident-intent reconstruction: in the reference that
        ``case`` is UNREACHABLE — processOutgoingXTokens has a duplicate
        ``case "xTokens:transfer":`` label (common_chainparser.js:1131
        and :1141), so transferMulticurrencies falls through to default
        and the positional loop dereferences undefined localXcAssetArr
        entries; we implement what the dead branch plainly meant):
        - only xTokens:transfer / xTokens:transferMulticurrencies carry
          an inferable local side (:1127-1130);
        - the extrinsic must have EXACTLY ONE
          xTokens(TransferredMultiAssets) event (:1119-1122);
        - the local currencies zip POSITIONALLY against the event's
          Vec<MultiAsset> (:1190-1203 — invalid entries on either side
          keep their slot as `false` placeholders, so the zip never
          misaligns; we zip first and drop after, same alignment);
        - only concrete fungible assets yield a location (:1171-1180);
          a `here`/null id is the native asset and not actionable
          (:1222-1226);
        - inferred rows still gate on the known local registry (the
          assetChainkey lookup) — unknown currencies drop.

        Input extrinsics frame: (section, method, params JSON, events
        JSON array of {section, method, data}). Everything is native
        JSON column work; the gate is the same broadcast dim as
        parse_xc_gar; rows publish with source='augment'.

        Assets-pallet chains only (numeric currency ids — the chains the
        reference wires augment on: clover, origintrail, robonomics's
        comment block); ORML CurrencyId-object chains would need a
        currency-canonicalizing local side and are rejected loudly."""
        if self.xc_join_on != "asset_id":
            raise NotImplementedError(
                f"{self.parser_name}: xTokens augment supports "
                "assets-pallet (numeric id) chains only"
            )
        def _exprs():
            ev_arr = F.from_json(F.col("events"), "array<string>")
            xt = F.filter(
                ev_arr,
                lambda e: (F.get_json_object(e, "$.section") == "xTokens")
                & (F.get_json_object(e, "$.method") == "TransferredMultiAssets"),
            )
            sm = F.concat(F.col("section"), F.lit(":"), F.col("method"))
            # local side: one currency for transfer, the [currency,
            # amount] pair list's first elements for
            # transferMulticurrencies
            currencies = F.when(
                F.col("method") == "transfer",
                F.array(F.get_json_object("params", "$.currency_id")),
            ).otherwise(
                F.transform(
                    F.from_json(
                        F.get_json_object("params", "$.currencies"), "array<string>"
                    ),
                    lambda c: F.get_json_object(c, "$[0]"),
                )
            )
            # global side: the event's Vec<MultiAsset> (data[1])
            assets = F.from_json(
                F.get_json_object(F.element_at("__xt", 1), "$.data[1]"),
                "array<string>",
            )
            loc = F.get_json_object("ast", "$.id.concrete")
            fungible = F.get_json_object("ast", "$.fun.fungible")
            aid = _cleaned_asset_id(
                F.coalesce(F.get_json_object("cur", "$.Token"), F.col("cur"))
            )
            return {
                "xt": xt,
                "sm_in": sm.isin(
                    "xTokens:transfer", "xTokens:transferMulticurrencies"
                ),
                "zipped": F.explode(
                    F.arrays_zip(currencies.alias("cur"), assets.alias("ast"))
                ).alias("z"),
                "pair_keep": loc.isNotNull()
                & fungible.isNotNull()
                & aid.isNotNull(),
                "pair_cols": [aid.alias("asset_id"), loc.alias("multilocation")],
            }

        ex = _expr_cache(("augment_xtokens", GarParser), _exprs)
        base = (
            extrinsics.where(ex["sm_in"]).withColumn("__xt", ex["xt"]).where(
                F.size("__xt") == 1
            )
        )
        z = base.select(ex["zipped"]).select(
            F.col("z.cur").alias("cur"), F.col("z.ast").alias("ast")
        )
        pairs = z.where(ex["pair_keep"]).select(*ex["pair_cols"]).distinct()
        return self._gated_registrations(pairs, gar, "augment")

    # --------------------------------------------------------------- manual

    def manual_registrations(self, spark) -> DataFrame | None:
        """Hand-curated (asset, location) rows for chains whose registry
        does not expose one on chain (statemint.js:27-38
        manualRegistry)."""
        return None

    # ------------------------------------------------------------- assemble

    def registrations(
        self, spark, gar_entries: DataFrame, xc_entries: DataFrame | None = None
    ) -> DataFrame:
        """Everything this chain contributes to the global registry:
        on-chain xc rows (if the chain has an xc registry) + manual rows.
        Gar-only assets carry no location, hence no interior key — they
        decorate locally but cannot register globally, exactly like the
        reference (only setXcmAsset'd rows reach the global registry)."""
        gar = self.parse_gar(gar_entries)
        if self.native_tokens:
            # system.properties seeding: native assets enter the local
            # map symbol-keyed with no assets-pallet id
            # (getSystemProperties, common_chainparser.js:80-95)
            native = local_frame(
                gar_entries.sparkSession,
                [
                    (None, '{"Token":"%s"}' % s, s, s, d)
                    for s, d in self.native_tokens
                ],
                "asset_id long, currency_id string, symbol string, "
                "name string, decimals int",
            )
            gar = gar.unionByName(native)
        parts = []
        if xc_entries is not None and self.xc_gar_pallet is not None:
            parts.append(self.parse_xc_gar(xc_entries, gar))
        manual = self.manual_registrations(spark)
        if manual is not None:
            # manual rows attach to the cached gar asset for display
            # metadata; rows whose asset key has no cached entry are
            # DROPPED ('Asset=... NOT FOUND Skip', processManualRegistry,
            # common_chainparser.js:1057-1075). Keyed by asset_id
            # (statemint's {"Token":"1984"}) or by symbol (astar's
            # native {"Token":"ASTR"}, which attaches to the
            # system-properties seed).
            by_symbol = "symbol" in manual.columns
            dim = F.broadcast(
                gar.select(
                    (F.col("symbol") if by_symbol else F.col("asset_id")).alias("__jk"),
                    F.col("currency_id").alias("__cur"),
                    F.col("symbol").alias("__sym"),
                    F.col("name").alias("__name"),
                    F.col("decimals").alias("__dec"),
                )
            )
            mkey = manual["symbol"] if by_symbol else manual["asset_id"]
            m = manual.join(dim, mkey == F.col("__jk"), "inner").select(
                F.lit(self.manual_relay_chain).alias("relay_chain"),
                F.lit(self.para_id).alias("para_id"),
                F.col("__cur").alias("currency_id"),
                F.col("__sym").alias("symbol"),
                F.col("__name").alias("name"),
                F.col("__dec").alias("decimals"),
                F.col("multilocation"),
                F.lit(None).cast("string").alias("xc_contract_address"),
                F.lit("manual").alias("source"),
            )
            parts.append(m)
        if not parts:
            raise ValueError(f"{self.parser_name}: no registration source")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class StatemintGarParser(GarParser):
    """AssetHub (statemint/statemine — polkadot-1000 / kusama-1000,
    gar/chainParsers/statemint.js:1): assets:metadata local registry, NO
    on-chain xc registry (isXcRegistryAvailable=false, :40), one manual
    registration — USDT (asset 1984) at
    [{parachain:1000},{palletInstance:50},{generalIndex:1984}]
    (manualRegistry, statemint.js:27-38; palletInstance 50 is the assets
    pallet's index on AssetHub)."""

    parser_name = "Statemint"
    para_id = 1000
    xc_gar_pallet = None
    xc_gar_storage = None

    MANUAL = [(1984, 50)]  # (asset_id, pallet_instance)

    def manual_registrations(self, spark) -> DataFrame:
        rows = [
            (
                aid,
                '{"parents": 1, "interior": {"X3": [{"Parachain": %d}, '
                '{"PalletInstance": %d}, {"GeneralIndex": %d}]}}'
                % (self.para_id, pallet, aid),
            )
            for aid, pallet in self.MANUAL
        ]
        return local_frame(spark, rows, "asset_id long, multilocation string")


class HydraGarParser(GarParser):
    """HydraDX (polkadot-2034, gar/chainParsers/hydra.js:1): local
    registry at assetRegistry:assetMetadataMap ({symbol, decimals} — no
    name field, so every name falls back to the symbol), xc registry at
    assetRegistry:assetLocations whose values are version-wrapped
    multilocations parsed by processXcmAssetIdType
    (common_chainparser.js:576-688)."""

    parser_name = "Hydra"
    para_id = 2034
    gar_pallet = "assetRegistry"
    gar_storage = "assetMetadataMap"
    xc_gar_pallet = "assetRegistry"
    xc_gar_storage = "assetLocations"
    xc_strip_wrapper = True  # IdType path (common_chainparser.js:610)

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _numeric_xc_location(entries)


class PhalaGarParser(GarParser):
    """Phala (polkadot-2035 / kusama-2004 khala, gar/chainParsers/
    phala.js:1): assets:metadata local registry; xc registry at
    assetsRegistry:registryInfoByIds whose value embeds the location
    under $.location next to a properties blob
    (AssetsRegistryAssetRegistryInfo, phala.js:72-105;
    processXcmAssetIdToLocation, common_chainparser.js:268-380)."""

    parser_name = "Phala"
    para_id = 2035
    xc_gar_pallet = "assetsRegistry"
    xc_gar_storage = "registryInfoByIds"

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        cols = _expr_cache(
            ("xc_location", PhalaGarParser),
            lambda: [
                _cleaned_asset_id(F.get_json_object("key_args", "$[0]")).alias(
                    "asset_id"
                ),
                F.get_json_object("value", "$.location").alias("multilocation"),
            ],
        )
        return entries.select(*cols).where(F.col("multilocation").isNotNull())


class OrmlGarParser(GarParser):
    """ORML tokens-pallet registries keyed by CurrencyId OBJECTS, not
    numeric ids (gar/chainParsers/acala.js:1 assetRegistry:assetMetadatas
    over processGarTokensPallet, common_chainparser.js:211-256): the
    storage key is {"ForeignAssetId":"0"} / {"NativeAssetId":{"Token":
    "BNC"}} / {"Erc20":"0x…"} / {"StableAssetId":"0"}; the 'Id' suffix
    strips off the key name, NativeAssetId unwraps to the inner currency
    (the bifrost case, :223-225), numeric values clean commas and stay
    unquoted, and the xc registry (assetRegistry:foreignAssetLocations,
    processXcmForeignAssetLocations :696-760) joins back on the
    {"ForeignAsset": id} currency object."""

    parser_name = "Orml"
    para_id = 2000
    gar_pallet = "assetRegistry"
    gar_storage = "assetMetadatas"
    xc_gar_pallet = "assetRegistry"
    xc_gar_storage = "foreignAssetLocations"
    xc_join_on = "currency_id"
    # bifrost's VSToken symbol disambiguation (common_chainparser.js:
    # 236-242) — off for acala/karura
    vs_token_rule = False

    def parse_gar(self, entries: DataFrame) -> DataFrame:
        def _exprs():
            key0 = F.get_json_object("key_args", "$[0]")
            kmap = F.from_json(key0, "map<string,string>")
            kname = F.element_at(F.map_keys(kmap), 1)
            kval = F.element_at(F.map_values(kmap), 1)
            numeric = kval.rlike("^[0-9,]+$")
            scalar_json = F.when(numeric, F.regexp_replace(kval, ",", "")).otherwise(
                F.concat(F.lit('"'), kval, F.lit('"'))
            )
            currency = F.when(kname == "NativeAssetId", kval).otherwise(
                F.concat(
                    F.lit('{"'),
                    F.regexp_replace(kname, "Id$", ""),
                    F.lit('":'),
                    scalar_json,
                    F.lit("}"),
                )
            )
            symbol = F.get_json_object("value", "$.symbol")
            name = F.get_json_object("value", "$.name")
            if self.vs_token_rule:
                is_vs = currency.startswith('{"VSToken"')
                symbol = F.when(is_vs, F.concat(F.lit("VS"), symbol)).otherwise(symbol)
                name = F.when(
                    is_vs, F.concat(F.lit("Bifrost Voucher Slot "), name)
                ).otherwise(name)
            return [
                F.lit(None).cast("long").alias("asset_id"),
                currency.alias("currency_id"),
                symbol.alias("symbol"),
                name.alias("name"),
                _dechex_int(F.get_json_object("value", "$.decimals")).alias(
                    "decimals"
                ),
            ]

        cols = _expr_cache(("orml_parse_gar", self.vs_token_rule), _exprs)
        return entries.select(*cols).where(
            F.col("symbol").isNotNull() & F.col("decimals").isNotNull()
        )

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        # foreignAssetLocations keys on the bare ForeignAsset id
        # (useForeignAssetPrefix, common_chainparser.js:714-718)
        def _exprs():
            fa = _cleaned_asset_id(F.get_json_object("key_args", "$[0]"))
            return [
                F.concat(
                    F.lit('{"ForeignAsset":'), fa.cast("string"), F.lit("}")
                ).alias("currency_id"),
                _unwrap_location(F.col("value")).alias("multilocation"),
            ]

        cols = _expr_cache(("xc_location", OrmlGarParser), _exprs)
        return entries.select(*cols).where(F.col("multilocation").isNotNull())


class AcalaGarParser(OrmlGarParser):
    """acala polkadot-2000 / karura kusama-2000 (gar/chainParsers/
    acala.js:1)."""

    parser_name = "Acala"
    para_id = 2000

    @staticmethod
    def erc20_general_key(erc20_address: Column) -> Column:
        """acala's Erc20 CurrencyId → SCALE-encoded generalKey junction
        value: 0x02 (the Erc20 enum index) ++ the h160
        (isAcalaXcAsset, acala.js:128-147) — the local xcmInteriorKey
        decoration for on-chain ERC-20s."""
        return F.concat(F.lit("0x02"), F.substring(F.lower(erc20_address), 3, 40))


class BifrostGarParser(OrmlGarParser):
    """bifrost polkadot-2030 / kusama-2001 (gar/chainParsers/
    bifrost.js): currencyMetadatas keyed by NativeAssetId-wrapped
    currencies, with the VSToken symbol disambiguation."""

    parser_name = "Bifrost"
    para_id = 2030
    gar_storage = "currencyMetadatas"
    xc_gar_storage = "currencyIdToLocations"
    vs_token_rule = True


class MoonbeamGarParser(GarParser):
    """moonbeam polkadot-2004 / moonriver kusama-2023 (gar/chainParsers/
    moonbeam.js:1): assets:metadata (+ a localAssets:metadata extra
    pallet, :85-99) with the assetManager:assetIdType xc registry parsed
    IdType-style (xc prefix strips), and — the moonbeam-specific bit —
    every xc registration also derives its XC-20 PRECOMPILE contract
    address from the asset id (addXcmAssetLocalxcContractAddress,
    :123; the 0xFFFFFFFF ++ u128 rule shared with plans/precompiles and
    chains.MoonbeamParser.xc20_contract_address)."""

    parser_name = "Moonbeam"
    para_id = 2004
    xc_gar_pallet = "assetManager"
    xc_gar_storage = "assetIdType"
    xc_strip_wrapper = True

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _numeric_xc_location(entries)

    def parse_xc_gar(self, xc_entries: DataFrame, gar: DataFrame) -> DataFrame:
        out = super().parse_xc_gar(xc_entries, gar)
        # xcContractAddress = 0xffffffff ++ 16-byte big-endian asset id
        aid = _cleaned_asset_id(F.get_json_object("currency_id", "$.Token"))
        xc20 = F.concat(F.lit("0xffffffff"), F.lpad(F.lower(F.hex(aid)), 32, "0"))
        return out.withColumn("xc_contract_address", xc20)


class OrmlMetadataGarParser(GarParser):
    """orml-asset-registry chains whose metadata value EMBEDS the
    location (interlay/kintsugi, mangatax, oak, centrifuge — gar and xc
    are the SAME storage walk, gar/chainParsers/interlay.js:16-21 +
    processXcmAssetsRegistryAssetMetadata, common_chainparser.js:
    381-470: location may be version-wrapped under $.location).
    ``pad_prefix`` reproduces interlay's currency padding — numeric ids
    publish as {"ForeignAsset":"<id>"} to match the chain's
    tokens:account keys (padCurrencyID, interlay.js:111-127)."""

    parser_name = "OrmlMetadata"
    gar_pallet = "assetRegistry"
    gar_storage = "metadata"
    xc_gar_pallet = "assetRegistry"
    xc_gar_storage = "metadata"
    pad_prefix: str | None = None

    def parse_gar(self, entries: DataFrame) -> DataFrame:
        out = super().parse_gar(entries)
        if self.pad_prefix:
            cur = F.concat(
                F.lit('{"%s":"' % self.pad_prefix),
                F.col("asset_id").cast("string"),
                F.lit('"}'),
            )
            out = out.withColumn(
                "currency_id",
                F.when(F.col("asset_id").isNotNull(), cur).otherwise(
                    F.col("currency_id")
                ),
            )
        return out

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        cols = _expr_cache(
            ("xc_location", OrmlMetadataGarParser),
            lambda: [
                _cleaned_asset_id(F.get_json_object("key_args", "$[0]")).alias(
                    "asset_id"
                ),
                _unwrap_location(F.get_json_object("value", "$.location")).alias(
                    "multilocation"
                ),
            ],
        )
        return entries.select(*cols).where(F.col("multilocation").isNotNull())


class InterlayGarParser(OrmlMetadataGarParser):
    """interlay polkadot-2032 / kintsugi kusama-2092 (interlay.js:1)."""

    parser_name = "Interlay"
    para_id = 2032
    pad_prefix = "ForeignAsset"


class MangataGarParser(OrmlMetadataGarParser):
    """mangatax kusama-2110 (mangatax.js:1)."""

    parser_name = "Mangata"
    relay_chain = "kusama"
    para_id = 2110


class OakGarParser(OrmlMetadataGarParser):
    """oak/turing kusama-2114 (oak.js:1)."""

    parser_name = "Oak"
    relay_chain = "kusama"
    para_id = 2114


class CentrifugeGarParser(OrmlMetadataGarParser):
    """centrifuge polkadot-2031 (centrifuge.js:1) — same shape under the
    ormlAssetRegistry pallet name."""

    parser_name = "Centrifuge"
    para_id = 2031
    gar_pallet = "ormlAssetRegistry"
    xc_gar_pallet = "ormlAssetRegistry"


class ListenGarParser(HydraGarParser):
    """listen kusama-2118 (listen.js:1): currencies:listenAssetsInfo gar
    (the extra ``metadata`` nesting level the generic parse unwraps,
    common_chainparser.js:135) + currencies:assetLocations xc — the
    hydra IdType machinery under different storage names."""

    parser_name = "Listen"
    relay_chain = "kusama"
    para_id = 2118
    gar_pallet = "currencies"
    gar_storage = "listenAssetsInfo"
    xc_gar_pallet = "currencies"
    xc_gar_storage = "assetLocations"


class CalamariGarParser(GarParser):
    """calamari kusama-2084 (calamari.js:1): assets:metadata +
    assetManager:assetIdLocation parsed IdToLocation-style (no
    xc-wrapper strip)."""

    parser_name = "Calamari"
    relay_chain = "kusama"
    para_id = 2084
    xc_gar_pallet = "assetManager"
    xc_gar_storage = "assetIdLocation"

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _numeric_xc_location(entries)


class ParallelGarParser(GarParser):
    """parallel polkadot-2012 / heiko kusama-2085 (parallel.js:1):
    assets:metadata + assetRegistry:assetIdType, IdType-style."""

    parser_name = "Parallel"
    para_id = 2012
    xc_gar_pallet = "assetRegistry"
    xc_gar_storage = "assetIdType"
    xc_strip_wrapper = True

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _numeric_xc_location(entries)


class AstarGarParser(GarParser):
    """astar polkadot-2006 (gar/chainParsers/astar.js:1): assets:metadata
    local registry + xcAssetConfig:assetIdToLocation xc registry parsed
    IdToLocation-style (processXcmAssetIdToLocation, astar.js:94 — no
    xc-wrapper strip), plus the manual NATIVE registration — ASTR at the
    chain's own [{parachain:2006}] location (manualRegistry,
    astar.js:25-31) — which attaches to the system-properties native
    seed (symbol-keyed, never in assets:metadata)."""

    parser_name = "Astar"
    para_id = 2006
    xc_gar_pallet = "xcAssetConfig"
    xc_gar_storage = "assetIdToLocation"
    native_tokens = [("ASTR", 18)]

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _numeric_xc_location(entries)

    def manual_registrations(self, spark) -> DataFrame:
        loc = (
            '{"parents": 1, "interior": {"X1": [{"Parachain": %d}]}}' % self.para_id
        )
        return local_frame(
            spark,
            [(s, loc) for s, _ in self.native_tokens[:1]],
            "symbol string, multilocation string",
        )


class ShidenGarParser(AstarGarParser):
    """shiden kusama-2007 — AstarParser's second chainkey (astar.js:9,
    manualRegistry 'kusama-2007' SDN, :32-37).

    INTENTIONAL DIVERGENCE (DIVERGENCES['shiden-manual-relay']): the
    reference's kusama-2007 manual entry pins xcmInteriorKey
    ``[{"network":"polkadot"},{"parachain":2007}]`` (astar.js:32-38) —
    network *polkadot* on a *kusama* registration, an evident copy-paste
    typo from the astar entry above it. We publish the SDN row under the
    chain's actual relay (kusama), matching how every other kusama-side
    parser keys its registrations; construct the parser with
    ``reference_byte_compat=True`` to reproduce the reference's
    published bytes instead."""

    parser_name = "Astar"
    relay_chain = "kusama"
    para_id = 2007
    native_tokens = [("SDN", 18)]

    @property
    def manual_relay_chain(self) -> str:
        return "polkadot" if self.reference_byte_compat else self.relay_chain


class CloverGarParser(GarParser):
    """clover polkadot-2002 (gar/chainParsers/clover.js:1):
    assets:metadata + assetConfig:assetIdLocation parsed
    IdToLocation-style (clover.js:109, no strip). The file's first
    manualRegistry literal is dead code — the second ``manualRegistry =
    {}`` at clover.js:53 wins (last class-field assignment), so no
    manual rows."""

    parser_name = "Clover"
    para_id = 2002
    xc_gar_pallet = "assetConfig"
    xc_gar_storage = "assetIdLocation"

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _numeric_xc_location(entries)


class OrigintrailGarParser(GarParser):
    """origintrail polkadot-2043 (gar/chainParsers/origintrail.js:1):
    assets:metadata + xcAssetConfig:assetIdToLocation — Astar's storage
    layout (origintrail.js:21-22) without the manual native row
    (manualRegistry = {}, :40)."""

    parser_name = "OriginTrail"
    para_id = 2043
    xc_gar_pallet = "xcAssetConfig"
    xc_gar_storage = "assetIdToLocation"

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _numeric_xc_location(entries)


class RobonomicsGarParser(GarParser):
    """robonomics kusama-2048 (gar/chainParsers/robonomics.js:1):
    assets:metadata ONLY — isXcRegistryAvailable = false
    (robonomics.js:55, xcGarPallet = ''), no manual rows. Local assets
    decorate the chain but never reach the global registry — the named
    parser IS the generic assets-pallet fallback (crawlRegistry also
    routes it through processCommonAssetPalletGar,
    xcmgarManager.js:546-548)."""

    parser_name = "Robonomics"
    relay_chain = "kusama"
    para_id = 2048


class ShadowGarParser(GarParser):
    """crust shadow kusama-2012 (gar/chainParsers/shadow.js:1):
    assets:metadata + assetManager:assetIdType parsed IdTYPE-style
    (processXcmAssetIdType, shadow.js:79) — the one long-tail chain
    whose xc display symbols strip the xc-wrapper prefix
    (common_chainparser.js:610)."""

    parser_name = "Shadow"
    relay_chain = "kusama"
    para_id = 2012
    xc_gar_pallet = "assetManager"
    xc_gar_storage = "assetIdType"
    xc_strip_wrapper = True

    def _xc_location(self, entries: DataFrame) -> DataFrame:
        return _numeric_xc_location(entries)


_GAR_PARSERS: dict[str, type[GarParser]] = {
    "moonbeam": MoonbeamGarParser,
    "moonriver": MoonbeamGarParser,
    "statemint": StatemintGarParser,
    "statemine": StatemintGarParser,
    "hydra": HydraGarParser,
    "basilisk": HydraGarParser,
    "phala": PhalaGarParser,
    "khala": PhalaGarParser,
    "acala": AcalaGarParser,
    "karura": AcalaGarParser,
    "bifrost": BifrostGarParser,
    "interlay": InterlayGarParser,
    "kintsugi": InterlayGarParser,
    "mangatax": MangataGarParser,
    "oak": OakGarParser,
    "turing": OakGarParser,
    "centrifuge": CentrifugeGarParser,
    "listen": ListenGarParser,
    "calamari": CalamariGarParser,
    "parallel": ParallelGarParser,
    "heiko": ParallelGarParser,
    "astar": AstarGarParser,
    "shiden": ShidenGarParser,
    "clover": CloverGarParser,
    "origintrail": OrigintrailGarParser,
    "robonomics": RobonomicsGarParser,
    "shadow": ShadowGarParser,
}
# Dispatch-completeness vs gar/chainParsers/*.js: every reference parser
# file now has a named entry above (statemint, hydra, phala, acala,
# bifrost, interlay, mangatax, oak, centrifuge, listen, calamari,
# parallel, moonbeam, astar, clover, origintrail, robonomics, shadow) —
# custom_parser_template.js is the fork template, common_chainparser.js
# the base class; neither names a chain.


# Machine-readable registry of every documented divergence from the
# reference's published bytes, so byte-compat consumers know exactly what
# differs and which knob (if any) restores reference output. Each entry:
# (where, ours, reference, restore).
DIVERGENCES: dict[str, dict[str, str]] = {
    "shiden-manual-relay": {
        "where": "ShidenGarParser manual SDN registration (astar.js:32-38)",
        "ours": "relay_chain='kusama' (the chain's actual relay)",
        "reference": "network 'polkadot' — copy-paste typo from the astar entry",
        "restore": "get_gar_parser('shiden', reference_byte_compat=True)",
    },
    "xc-strip-anchored": {
        "where": "xc_strip_wrapper symbol strip (common_chainparser.js:610)",
        "ours": "anchored ^xc prefix strip",
        "reference": "first-occurrence replace('xc','') — mangles interior 'xc'",
        "restore": "none — symbols differing under the two rules are malformed"
        " registrations in the reference too (see _gated_registrations)",
    },
    "xtokens-multicurrencies": {
        "where": "augment_from_xtokens transferMulticurrencies"
        " (common_chainparser.js processOutgoingXTokens)",
        "ours": "not inferred (the reference arm is unreachable dead code)",
        "reference": "nominally handled, never executes",
        "restore": "none — no reference output exists to reproduce",
    },
}


def get_gar_parser(chain_name: str, **kwargs) -> GarParser:
    """Dispatch like gar/xcmgar.js chainParserInit: named parser or the
    generic assets-pallet fallback. ``kwargs`` forward to the parser
    constructor (e.g. ``reference_byte_compat=True``)."""
    return _GAR_PARSERS.get(chain_name, GarParser)(**kwargs)
