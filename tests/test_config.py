from sema_spark.config import DEFAULT_EXTENSIONS, PipelineConfig


def _df(spark, rows):
    return spark.createDataFrame(
        [(r[0], r[1] if len(r) > 1 else "x" * 100) for r in rows],
        "path string, content string",
    )


def test_defaults_match_reference():
    cfg = PipelineConfig()
    assert cfg.max_file_size == 10_485_760
    assert len(cfg.file_extensions) == 71  # exact reference count (config/mod.rs:30-102)
    assert "rs" in cfg.file_extensions and "tsv" in cfg.file_extensions
    assert ".git" in cfg.exclude_patterns and "*.log" in cfg.exclude_patterns


def test_extension_filter(spark):
    cfg = PipelineConfig()
    df = _df(spark, [("a.py",), ("b.unknownext",), ("noext",), ("c.PY",), ("d.tar.gz",)])
    kept = {r.path for r in cfg.apply(df).collect()}
    assert kept == {"a.py", "c.PY"}  # normalized lowercase; no-ext dropped; gz not allowed


def test_exclude_and_hidden(spark):
    cfg = PipelineConfig()
    df = _df(
        spark,
        [
            ("src/ok.py",),
            ("node_modules/x.js",),
            ("target/debug/y.rs",),
            ("deep/.git/z.py",),
            (".hidden/a.py",),
            ("src/.secret.py",),
            ("debug.tmp",),
            ("x.log",),  # *.log excluded even though log ∈ extensions
        ],
    )
    kept = {r.path for r in cfg.apply(df).collect()}
    assert kept == {"src/ok.py"}


def test_size_bounds(spark):
    # the 50-char minimum is stage 1's guard (F4), not a config bound
    cfg = PipelineConfig(max_file_size=200)
    df = spark.createDataFrame(
        [("small.py", "x" * 10), ("ok.py", "x" * 100), ("big.py", "x" * 500), ("null.py", None)],
        "path string, content string",
    )
    kept = {r.path for r in cfg.apply(df).collect()}
    assert kept == {"small.py", "ok.py"}


def test_toml_roundtrip(tmp_path):
    p = tmp_path / "config.toml"
    p.write_text(
        '[general]\nmax_file_size = 1234\nfile_extensions = ["py", "rs"]\ninclude_hidden = true\n'
    )
    cfg = PipelineConfig.from_toml(str(p))
    assert cfg.max_file_size == 1234
    assert cfg.file_extensions == ["py", "rs"]
    assert cfg.include_hidden is True
    assert cfg.exclude_patterns == PipelineConfig().exclude_patterns  # default kept


def test_cli_config_is_the_only_crawl_filter(spark, tmp_path, capsys):
    """The CLI applies the TOML config once and stage 1 adds no crawl
    filter of its own: with hidden files included and only `.git`
    excluded, a hidden dir and a `target/` dir both reach the graph."""
    from sema_spark.__main__ import main
    from sema_spark.plans.pipeline import read_triples

    body = "import os\n\n\ndef {}(x):\n    return os.path.join(x, 'y')\n"
    paths = {"src/a.py": "fa", ".cfg/b.py": "fb", "target/c.py": "fc"}
    rows = [("org/r", p, "c1", "py", body.format(fn)) for p, fn in paths.items()]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string").write.parquet(src)
    cfg = tmp_path / "config.toml"
    cfg.write_text('[general]\ninclude_hidden = true\nexclude_patterns = [".git"]\n')
    base = str(tmp_path / "kg")

    assert main(["--src", src, "--base", base, "--config", str(cfg)]) == 0
    capsys.readouterr()
    defined = {r.path: r.obj for r in read_triples(spark, base).where("pred = 'defines'").collect()}
    assert defined == {p: f"org/r/{p}#{fn}" for p, fn in paths.items()}
