package graft.cdc

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SchemaCloneSpec extends AnyFunSuite {
  val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("amount", DecimalType(12, 2)),
    StructField("tags", ArrayType(StringType)),
    StructField("ts", TimestampType)))

  test("createTableDdl emits clean ANSI DDL with no storage clauses") {
    val ddl = SchemaClone.createTableDdl("t1", schema, pk = Seq("id"))
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS t1"))
    assert(ddl.contains("id BIGINT NOT NULL"))
    assert(ddl.contains("amount DECIMAL(12,2)"))
    assert(ddl.contains("tags VARCHAR[]"))
    assert(ddl.contains("PRIMARY KEY (id)"))
    assert(!ddl.toUpperCase.contains("TABLESPACE")) // storage stripped by construction
  }

  test("migrationDdl emits ALTERs only for missing columns") {
    val target = StructType(schema.fields.take(2))
    val ddls = SchemaClone.migrationDdl("t1", schema, target)
    assert(ddls.size == 3)
    assert(ddls.head == "ALTER TABLE t1 ADD COLUMN amount DECIMAL(12,2)")
  }

  test("migrationDdl emits ADD for source-added columns only") {
    val target = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val staged = StructType(Seq(StructField("id", LongType), // name dropped
      StructField("score", DoubleType), StructField("active", BooleanType)))
    assert(SchemaClone.migrationDdl("CUST", staged, target) == Seq(
      "ALTER TABLE CUST ADD COLUMN score DOUBLE",
      "ALTER TABLE CUST ADD COLUMN active BOOLEAN"))
  }

  test("round trip: ddl for every test table type is non-empty") {
    Seq(IntegerType, FloatType, DoubleType, BooleanType, DateType, BinaryType,
      MapType(StringType, LongType)).foreach { dt =>
      assert(SchemaClone.sqlType(dt).nonEmpty)
    }
  }

  test("canonType collapses engine-specific spellings into the shared vocabulary") {
    assert(SchemaClone.canonType(LongType) == "int64")
    assert(SchemaClone.canonType(FloatType) == "float32")
    assert(SchemaClone.canonType(StringType) == "string")
    assert(SchemaClone.canonType(DecimalType(12, 2)) == "decimal(12,2)")
    assert(SchemaClone.canonType(ArrayType(FloatType)) == "array<float32>")
    assert(SchemaClone.canonType(TimestampNTZType) == "timestamp")
  }

  // the shape DBMS_METADATA.GET_DDL actually emits (reference
  // 02_clone_schema_structure.py:22-40 adapts exactly this)
  val oracleDdl: String =
    """  CREATE TABLE "SRC_USER"."CUSTOMER"
      |   (	"ID" NUMBER(19,0) NOT NULL ENABLE,
      |	"NAME" VARCHAR2(64),
      |	"CREATED_AT" TIMESTAMP (6) DEFAULT CURRENT_TIMESTAMP,
      |	 PRIMARY KEY ("ID")
      |  USING INDEX PCTFREE 10 INITRANS 2 MAXTRANS 255 COMPUTE STATISTICS
      |  TABLESPACE "USERS"  ENABLE
      |   ) SEGMENT CREATION IMMEDIATE
      |  PCTFREE 10 PCTUSED 40 INITRANS 1 MAXTRANS 255
      | NOCOMPRESS LOGGING
      |  STORAGE(INITIAL 65536 NEXT 1048576 MINEXTENTS 1 MAXEXTENTS 2147483645
      |  PCTINCREASE 0 FREELISTS 1 FREELIST GROUPS 1
      |  BUFFER_POOL DEFAULT FLASH_CACHE DEFAULT CELL_FLASH_CACHE DEFAULT)
      |  TABLESPACE "USERS"""".stripMargin

  test("adaptVendorDdl rewrites the schema qualifier and strips every storage clause") {
    val out = SchemaClone.adaptVendorDdl(oracleDdl, "src_user", "TGT_USER")
    assert(out.contains("\"TGT_USER\".\"CUSTOMER\""))
    assert(!out.contains("SRC_USER"))
    for (kw <- Seq("TABLESPACE", "STORAGE", "PCTFREE", "PCTUSED", "INITRANS",
      "MAXTRANS", "NOCOMPRESS", "LOGGING", "INITIAL", "BUFFER_POOL"))
      assert(!out.toUpperCase.contains(kw), s"$kw survived:\n$out")
    // the logical definition is untouched
    assert(out.contains("\"ID\" NUMBER(19,0) NOT NULL ENABLE"))
    assert(out.contains("\"NAME\" VARCHAR2(64)"))
    assert(out.contains("TIMESTAMP (6) DEFAULT CURRENT_TIMESTAMP"))
    assert(out.contains("PRIMARY KEY (\"ID\")"))
  }

  test("adaptVendorDdl strips argumented COMPRESS forms without dangling arguments") {
    for (clause <- Seq("COMPRESS FOR OLTP", "COMPRESS FOR QUERY HIGH",
      "COMPRESS BASIC", "COMPRESS ADVANCED", "COMPRESS 2")) {
      val out = SchemaClone.adaptVendorDdl(
        s"""CREATE TABLE "S"."T" ("A" NUMBER) $clause LOGGING""", "S", "T2")
      assert(!out.toUpperCase.contains("COMPRESS") &&
        !out.contains("OLTP") && !out.contains("BASIC") &&
        !out.contains("QUERY") && !out.matches("(?s).*\\b2\\b.*LOGGING.*"),
        s"'$clause' left residue in: $out")
      assert(out.contains("\"A\" NUMBER"), s"column survived for '$clause'")
    }
  }

  test("adaptVendorDdl: case-insensitive schema match, bare LOGGING never eats the next token") {
    val ddl = "CREATE TABLE \"src_user\".\"T\" (\"A\" NUMBER) LOGGING\n  PARALLEL 4"
    val out = SchemaClone.adaptVendorDdl(ddl, "SRC_USER", "tgt")
    assert(out.contains("\"TGT\".\"T\""))
    // LOGGING is standalone in Oracle grammar; the word after it is a
    // separate clause and must survive (the reference's LOGGING\s+\w+
    // regex would have swallowed PARALLEL)
    assert(out.contains("PARALLEL 4") && !out.toUpperCase.contains("LOGGING"))
  }

  test("schemaDiff classifies added/removed/retyped/ok, case-insensitively") {
    import org.apache.spark.sql.types._
    val source = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("amount", DecimalType(12, 2)), StructField("extra", IntegerType)))
    val target = StructType(Seq(
      StructField("ID", LongType), StructField("v", StringType),
      StructField("amount", DoubleType), StructField("legacy", StringType)))
    val got = SchemaClone.schemaDiff(source, target)
    assert(got == Seq(
      ("id", "ok", "int64", "int64"),
      ("v", "ok", "string", "string"),
      ("amount", "retyped", "decimal(12,2)", "float64"),
      ("extra", "added", "int32", ""),
      ("legacy", "removed", "", "string")))
  }
}
