package graft.util

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** dotenv-style config resolution (reference ingest.py:9-13 connection
  * constants, publish.py:146-149 credential/id resolution).
  */
class EnvConfigSpec extends AnyFunSuite with graft.TempCorpusDirs {

  test("parses KEY=VALUE with comments, blanks, export and quotes") {
    val cfg = EnvConfig.parse(Seq(
      "# warehouse connection",
      "",
      "DB_HOST=localhost",
      "DB_PORT = 6666",
      "export DB_NAME=AIE321",
      "DB_PASSWORD=\"s3cr=et\"",
      "DB_USER='alice'",
      "no_equals_line_is_ignored",
    ))
    assert(cfg == Map(
      "DB_HOST" -> "localhost",
      "DB_PORT" -> "6666",
      "DB_NAME" -> "AIE321",
      "DB_PASSWORD" -> "s3cr=et",
      "DB_USER" -> "alice",
    ))
  }

  test("environment wins over the file") {
    val file = Map("DB_HOST" -> "filehost", "DB_NAME" -> "filedb")
    val env = Map("DB_HOST" -> "envhost")
    assert(EnvConfig.resolve("DB_HOST", file, env).contains("envhost"))
    assert(EnvConfig.resolve("DB_NAME", file, env).contains("filedb"))
    assert(EnvConfig.resolve("MISSING", file, env).isEmpty)
  }

  test("load() round-trips a config file") {
    val f = java.nio.file.Paths.get(tempCorpusDir("graft_env"), "cfg.env")
    Files.write(f, "DB_URL=jdbc:derby:memory:cfg\nDB_DRIVER=x.Y\n".getBytes("UTF-8"))
    val cfg = EnvConfig.load(f.toString)
    assert(cfg("DB_URL") == "jdbc:derby:memory:cfg")
    assert(cfg("DB_DRIVER") == "x.Y")
  }

  test("jdbcWarehouse composes the reference-shaped postgres URL from parts") {
    // Composition path (no DB_URL): ingest.py:9-13 constants as config.
    val cfg = Map(
      "DB_HOST" -> "dbhost", "DB_PORT" -> "6666", "DB_NAME" -> "AIE321",
      "DB_USER" -> "u", "DB_PASSWORD" -> "p")
    // Built without error; connectivity itself is exercised in
    // WarehouseSpec via the Derby-backed config round-trip.
    EnvConfig.jdbcWarehouse(cfg, env = Map.empty)
    // Missing DB_NAME and DB_URL must fail loudly, not default silently.
    intercept[IllegalArgumentException] {
      EnvConfig.jdbcWarehouse(Map("DB_HOST" -> "h"), env = Map.empty)
    }
  }
}
