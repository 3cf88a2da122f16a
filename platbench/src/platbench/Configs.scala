package platbench

import graft.config.TableConfig
import graft.config.TableConfig.Table

/** Every table of the benchmark's platform, declared in the reference's
  * JSON schema dialect and parsed by the engine's config layer.
  */
final case class Configs(
    bronzeCustomers: Table, bronzeOrders: Table, bronzeOrderChanges: Table,
    bronzeLineitem: Table, silverCustomers: Table, silverOrders: Table,
    silverOrderChanges: Table, silverLineitem: Table, dimDate: Table,
    dimCustomer: Table, factOrders: Table, factLineitem: Table)

object Configs {

  def parse(): Configs = Configs(
    TableConfig.fromJsonString(BronzeCustomers), TableConfig.fromJsonString(BronzeOrders),
    TableConfig.fromJsonString(BronzeOrderChanges), TableConfig.fromJsonString(BronzeLineitem),
    TableConfig.fromJsonString(SilverCustomers), TableConfig.fromJsonString(SilverOrders),
    TableConfig.fromJsonString(SilverOrderChanges), TableConfig.fromJsonString(SilverLineitem),
    TableConfig.fromJsonString(DimDate), TableConfig.fromJsonString(DimCustomer),
    TableConfig.fromJsonString(FactOrders), TableConfig.fromJsonString(FactLineitem))

  private val BronzeCustomers = """
    {"table_name": "bronze_customers", "source_system": "crm", "file_format": "csv",
     "file_path": "customers", "delimiter": ",", "header": true,
     "primary_keys": ["c_custkey"],
     "columns": [
       {"name": "c_custkey", "datatype": "long", "nullable": false},
       {"name": "c_name", "datatype": "string", "nullable": true},
       {"name": "c_nationkey", "datatype": "integer", "nullable": true},
       {"name": "c_phone", "datatype": "string", "nullable": true},
       {"name": "c_acctbal", "datatype": "decimal(12,2)", "nullable": true},
       {"name": "c_mktsegment", "datatype": "string", "nullable": true}]}"""

  private val OrderColumns = """
       {"name": "o_orderkey", "datatype": "long", "nullable": false},
       {"name": "o_custkey", "datatype": "long", "nullable": true},
       {"name": "o_orderstatus", "datatype": "string", "nullable": true},
       {"name": "o_totalprice", "datatype": "decimal(12,2)", "nullable": true},
       {"name": "o_orderdate", "datatype": "date", "nullable": true},
       {"name": "o_orderpriority", "datatype": "string", "nullable": true}"""

  private val BronzeOrders = s"""
    {"table_name": "bronze_orders", "source_system": "erp", "file_format": "parquet",
     "file_path": "orders", "primary_keys": ["o_orderkey"],
     "columns": [$OrderColumns]}"""

  private val BronzeOrderChanges = s"""
    {"table_name": "bronze_order_changes", "source_system": "erp_cdc",
     "file_format": "parquet", "file_path": "order_changes", "primary_keys": ["o_orderkey"],
     "columns": [$OrderColumns,
       {"name": "op", "datatype": "string", "nullable": false}]}"""

  private val BronzeLineitem = """
    {"table_name": "bronze_lineitem", "source_system": "erp", "file_format": "parquet",
     "file_path": "lineitem", "primary_keys": ["l_orderkey", "l_linenumber"],
     "columns": [
       {"name": "l_orderkey", "datatype": "long", "nullable": false},
       {"name": "l_linenumber", "datatype": "integer", "nullable": false},
       {"name": "l_quantity", "datatype": "decimal(12,2)", "nullable": true},
       {"name": "l_extendedprice", "datatype": "decimal(12,2)", "nullable": true},
       {"name": "l_discount", "datatype": "decimal(4,2)", "nullable": true},
       {"name": "l_returnflag", "datatype": "string", "nullable": true},
       {"name": "l_shipdate", "datatype": "date", "nullable": true}]}"""

  private val SilverCustomers = """
    {"table_name": "silver_customers", "source_table": "bronze_customers",
     "load_type": "upsert", "primary_keys": ["c_custkey"], "partition_by": ["c_nationkey"],
     "columns": [
       {"name": "c_custkey", "datatype": "bigint", "nullable": false},
       {"name": "c_name", "datatype": "string", "nullable": true, "transformation": "trim(c_name)"},
       {"name": "c_nationkey", "datatype": "int", "nullable": false},
       {"name": "c_phone", "datatype": "string", "nullable": true,
        "transformation": "format_phone(c_phone)"},
       {"name": "c_acctbal", "datatype": "decimal(12,2)", "nullable": true},
       {"name": "c_mktsegment", "datatype": "string", "nullable": true,
        "transformation": "upper(trim(c_mktsegment))"}],
     "data_quality_rules": {
       "null_checks": ["c_custkey", "c_nationkey"],
       "uniqueness_checks": ["c_custkey"],
       "value_constraints": {
         "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]},
       "format_validations": {"c_phone": "^[0-9]{3}-[0-9]{3}-[0-9]{4}$"}}}"""

  private val SilverOrderColumns = """
       {"name": "o_orderkey", "datatype": "bigint", "nullable": false},
       {"name": "c_custkey", "datatype": "bigint", "nullable": false, "transformation": "o_custkey"},
       {"name": "order_status", "datatype": "string", "nullable": true,
        "transformation": "upper(trim(o_orderstatus))"},
       {"name": "order_priority", "datatype": "string", "nullable": true,
        "transformation": "upper(trim(o_orderpriority))"},
       {"name": "total_price", "datatype": "decimal(12,2)", "nullable": true,
        "transformation": "o_totalprice"},
       {"name": "order_date", "datatype": "date", "nullable": false, "transformation": "o_orderdate"},
       {"name": "order_year", "datatype": "int", "nullable": false,
        "transformation": "year(o_orderdate)"}"""

  private val SilverOrderRules = """
       "null_checks": ["o_orderkey", "c_custkey", "order_date"],
       "uniqueness_checks": ["o_orderkey"],
       "format_validations": {"order_priority": "^[1-5]-"},
       "referential_integrity": {
         "c_custkey": {"reference_table": "silver_customers", "reference_column": "c_custkey"}}"""

  private val SilverOrders = s"""
    {"table_name": "silver_orders", "source_table": "bronze_orders", "load_type": "upsert",
     "primary_keys": ["o_orderkey"], "partition_by": ["order_year"],
     "columns": [$SilverOrderColumns],
     "data_quality_rules": {$SilverOrderRules,
       "value_constraints": {"order_status": ["O", "F", "P"], "total_price": ">= 0"}}}"""

  private val SilverOrderChanges = s"""
    {"table_name": "silver_order_changes", "source_table": "bronze_order_changes",
     "load_type": "cdc", "primary_keys": ["o_orderkey"], "partition_by": ["order_year"],
     "columns": [$SilverOrderColumns,
       {"name": "op", "datatype": "string", "nullable": false, "transformation": "upper(op)"}],
     "data_quality_rules": {$SilverOrderRules,
       "value_constraints": {"order_status": ["O", "F", "P"], "total_price": ">= 0",
                             "op": ["I", "U", "D"]}}}"""

  private val SilverLineitem = """
    {"table_name": "silver_lineitem", "source_table": "bronze_lineitem", "load_type": "upsert",
     "primary_keys": ["o_orderkey", "l_linenumber"],
     "columns": [
       {"name": "o_orderkey", "datatype": "bigint", "nullable": false, "transformation": "l_orderkey"},
       {"name": "l_linenumber", "datatype": "int", "nullable": false},
       {"name": "quantity", "datatype": "decimal(12,2)", "nullable": false,
        "transformation": "l_quantity"},
       {"name": "extended_price", "datatype": "decimal(12,2)", "nullable": true,
        "transformation": "l_extendedprice"},
       {"name": "discount", "datatype": "decimal(4,2)", "nullable": true,
        "transformation": "l_discount"},
       {"name": "return_flag", "datatype": "string", "nullable": true,
        "transformation": "upper(trim(l_returnflag))"},
       {"name": "ship_date", "datatype": "date", "nullable": true, "transformation": "l_shipdate"}],
     "data_quality_rules": {
       "null_checks": ["o_orderkey", "l_linenumber", "quantity"],
       "uniqueness_checks": [["o_orderkey", "l_linenumber"]],
       "value_constraints": {"discount": "<= 0.10", "return_flag": ["R", "A", "N"]},
       "referential_integrity": {
         "o_orderkey": {"reference_table": "silver_orders", "reference_column": "o_orderkey"}}}}"""

  private val DimDate = """
    {"table_name": "dim_date", "dimension_type": "static",
     "date_range": {"start_date": "1992-01-01", "end_date": "1999-12-31"},
     "columns": [
       {"name": "date_key", "datatype": "integer", "nullable": false,
        "calculation": "cast(date_format(date, 'yyyyMMdd') as int)"},
       {"name": "date", "datatype": "date", "nullable": false},
       {"name": "year", "datatype": "integer", "nullable": false, "calculation": "year(date)"},
       {"name": "quarter", "datatype": "integer", "nullable": false, "calculation": "quarter(date)"},
       {"name": "month", "datatype": "integer", "nullable": false, "calculation": "month(date)"},
       {"name": "day_of_week", "datatype": "integer", "nullable": false,
        "calculation": "dayofweek(date)"},
       {"name": "is_weekend", "datatype": "boolean", "nullable": false,
        "calculation": "dayofweek(date) in (1, 7)"}]}"""

  private val DimCustomer = """
    {"table_name": "dim_customer", "source_table": "silver_customers",
     "dimension_type": "scd_type2", "business_key": "c_custkey",
     "surrogate_key": "customer_key", "columns": [],
     "scd_config": {
       "type2_columns": ["c_mktsegment", "c_acctbal"],
       "type1_columns": ["c_name", "c_nationkey"],
       "hash_columns": ["c_mktsegment", "c_acctbal"],
       "hash_delimiter": "|"}}"""

  private val FactOrders = """
    {"table_name": "fact_orders", "source_table": "silver_orders", "fact_type": "transaction",
     "grain": "one row per order", "partition_by": ["order_year"],
     "columns": [
       {"name": "order_key", "datatype": "bigint", "nullable": false, "is_surrogate_key": true},
       {"name": "o_orderkey", "datatype": "bigint", "nullable": false, "is_business_key": true},
       {"name": "customer_key", "datatype": "bigint", "nullable": false, "is_dimension_key": true,
        "references": {"dimension": "dim_customer", "join_type": "point_in_time",
                       "join_logic": "order_date BETWEEN valid_from AND valid_to"}},
       {"name": "date_key", "datatype": "integer", "nullable": false, "is_dimension_key": true,
        "references": {"dimension": "dim_date", "join_type": "direct",
                       "join_logic": "date_key = cast(date_format(order_date, 'yyyyMMdd') as int)"}},
       {"name": "c_custkey", "datatype": "bigint", "nullable": false},
       {"name": "order_status", "datatype": "string", "nullable": true},
       {"name": "order_priority", "datatype": "string", "nullable": true},
       {"name": "total_price", "datatype": "decimal(12,2)", "nullable": true},
       {"name": "c_acctbal", "datatype": "decimal(12,2)", "nullable": true},
       {"name": "order_date", "datatype": "date", "nullable": false},
       {"name": "order_year", "datatype": "integer", "nullable": false}],
     "measures": [
       {"name": "total_price", "aggregation": "SUM"},
       {"name": "c_acctbal", "aggregation": "SUM",
        "aggregation_note": "Can sum across customers, use LAST for time dimension"}]}"""

  private val FactLineitem = """
    {"table_name": "fact_lineitem", "source_table": "silver_lineitem", "fact_type": "transaction",
     "grain": "one row per order line", "partition_by": ["order_year"],
     "columns": [
       {"name": "lineitem_key", "datatype": "bigint", "nullable": false, "is_surrogate_key": true},
       {"name": "order_key", "datatype": "bigint", "nullable": false, "is_dimension_key": true,
        "references": {"dimension": "fact_orders", "join_type": "direct",
                       "join_logic": "o_orderkey match"}},
       {"name": "ship_date_key", "datatype": "integer", "nullable": false, "is_dimension_key": true,
        "references": {"dimension": "dim_date", "join_type": "direct",
                       "join_logic": "ship_date_key = cast(date_format(ship_date, 'yyyyMMdd') as int)"}},
       {"name": "o_orderkey", "datatype": "bigint", "nullable": false},
       {"name": "l_linenumber", "datatype": "integer", "nullable": false},
       {"name": "customer_key", "datatype": "bigint", "nullable": false},
       {"name": "quantity", "datatype": "decimal(12,2)", "nullable": false},
       {"name": "extended_price", "datatype": "decimal(12,2)", "nullable": true},
       {"name": "discount", "datatype": "decimal(4,2)", "nullable": true},
       {"name": "net_revenue", "datatype": "decimal(24,4)", "nullable": true,
        "calculation": "extended_price * (1 - discount)"},
       {"name": "return_flag", "datatype": "string", "nullable": true},
       {"name": "ship_date", "datatype": "date", "nullable": true},
       {"name": "order_year", "datatype": "integer", "nullable": false}],
     "measures": [
       {"name": "quantity", "aggregation": "SUM"},
       {"name": "net_revenue", "aggregation": "SUM"}]}"""
}
