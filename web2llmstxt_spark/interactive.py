"""Interactive entry point: the reference's menu flow over the Spark engine.

Twin of __main__.py / run.py (URL input loop, mode menu, model menu, then
generate) and generator/llms_generator.py:207-260
(interactive_crawling_mode_selection: normal / comprehensive-with-confirm /
sitemap) + llmsgen interactive_model_selection (numbered catalog listing
with status / RAM indicators). The reference runs these menus around its
asyncio crawler; here the same choices parameterize
``plans.pipeline.generate_llmstxt``.

I/O is injectable (``input_fn`` / ``print_fn``) and the pipeline call is a
``run_fn`` seam, so the flow is unit-tested with scripted input and no
Spark session. ``python -m web2llmstxt_spark`` with no arguments lands
here; with arguments it is the flag-driven CLI (cli.py).
"""

from __future__ import annotations

from .models.catalog import STATUS_INDICATORS, ModelManager, available_ram_gb

BANNER = "🚀 web2llmstxt-spark — Website Content Extraction (PySpark engine)"

MODE_MENU = """
================================================================================
🕷️ Crawling Mode Selection
================================================================================
Choose how you want to crawl the website:

1. 📄 Normal LLMs.txt (Recommended)
   • Crawls the main page + direct links from homepage
   • Fast and efficient for most websites

2. 🌊 Full Deep Crawl LLMs.txt (Comprehensive)
   • Discovers ALL links recursively until the budget is exhausted
   • ⚠️  Use with caution on large sites

3. 🗺️ Sitemap-Based Crawl (Most Efficient)
   • Uses the site's sitemap.xml for complete URL discovery
"""


def prompt_url(input_fn=input, print_fn=print) -> str:
    """URL input loop (__main__.py:36-44): non-empty, https:// prepended."""
    while True:
        url = input_fn("Enter the website URL to crawl: ").strip()
        if url:
            if not url.startswith(("http://", "https://")):
                url = "https://" + url
            return url
        print_fn("❌ Please enter a valid URL.")


def prompt_crawl_mode(input_fn=input, print_fn=print):
    """Mode menu (generator/llms_generator.py:207-260). Returns
    (mode, comprehensive, sitemap_url): 'normal'/'comprehensive'/'sitemap';
    deep crawl requires y/yes confirmation, declining returns to the menu;
    Ctrl-C falls back to normal like the reference."""
    print_fn(MODE_MENU)
    while True:
        try:
            choice = input_fn("Select crawling mode (1-3): ").strip()
        except KeyboardInterrupt:
            print_fn("\n❌ Selection cancelled.")
            return "normal", False, None
        if choice == "1":
            print_fn("✅ Selected: Normal LLMs.txt (main page + direct links)")
            return "normal", False, None
        if choice == "2":
            print_fn("\n⚠️  Deep Crawl Confirmation")
            print_fn("Deep crawling will attempt to find and crawl ALL pages.")
            confirm = input_fn("Are you sure you want to proceed? (y/N): ").strip().lower()
            if confirm in ("y", "yes"):
                print_fn("✅ Selected: Full Deep Crawl (entire domain)")
                return "comprehensive", True, None
            print_fn("↩️  Returning to mode selection...")
            continue
        if choice == "3":
            sm = input_fn(
                "Sitemap URL (blank = auto-discover /sitemap.xml): "
            ).strip()
            print_fn("✅ Selected: Sitemap-Based Crawl")
            return "sitemap", False, (sm or None)
        print_fn("❌ Invalid choice. Please enter 1, 2, or 3.")


def prompt_model(manager: ModelManager, input_fn=input, print_fn=print):
    """Numbered model menu (llmsgen interactive_model_selection): status
    icon + RAM estimate per row; '0' (or blank) selects the deterministic
    fallback describer (no model). Returns a ModelConfig or None."""
    print_fn("\n" + "=" * 80)
    print_fn("🤖 AI Model Selection")
    print_fn("=" * 80)
    if not manager.check_ollama_status():
        print_fn("⚠️  Ollama is not running. Only Gemini models will be listed.")
    models = list(manager.list_models().items())
    print_fn("0.    Deterministic fallback descriptions (no model)")
    avail = available_ram_gb()
    for i, (_key, cfg) in enumerate(models, 1):
        icon = STATUS_INDICATORS.get(cfg.status, "❓")
        line = f"{i:2d}. {icon} {cfg.display_name}"
        if cfg.provider == "ollama" and cfg.estimated_ram_gb > 0:
            ok = avail is None or avail >= cfg.estimated_ram_gb
            line += f" {'✅' if ok else '⚠️'} (~{cfg.estimated_ram_gb:.1f}GB RAM)"
        elif cfg.provider == "gemini" and not manager.gemini_api_key:
            line += " 🔑 (Setup Required)"
        print_fn(line)
        if cfg.description:
            print_fn(f"     {cfg.description}")
    while True:
        raw = input_fn(f"Select a model (0-{len(models)}): ").strip()
        if raw in ("", "0"):
            print_fn("✅ Using deterministic fallback descriptions.")
            return None
        if raw.isdigit() and 1 <= int(raw) <= len(models):
            cfg = models[int(raw) - 1][1]
            print_fn(f"✅ Selected: {cfg.display_name}")
            manager.set_model(cfg)
            return cfg
        print_fn("❌ Invalid choice.")


def interactive_main(
    input_fn=input,
    print_fn=print,
    run_fn=None,
    manager: ModelManager | None = None,
) -> dict:
    """The full reference flow: URL -> mode -> model -> run. ``run_fn``
    receives the resolved keyword arguments (seed, crawl_strategy,
    comprehensive, sitemap_url, describe_fn) — the default builds a Spark
    session and calls the real pipeline via cli-style plumbing."""
    print_fn(BANNER)
    print_fn("=" * 60)
    print_fn("\n🌐 Website URL Input")
    print_fn("=" * 30)
    seed = prompt_url(input_fn, print_fn)
    mode, comprehensive, sitemap_url = prompt_crawl_mode(input_fn, print_fn)
    manager = manager or ModelManager()
    model = prompt_model(manager, input_fn, print_fn)
    describe_fn = None
    if model is not None:
        from .models.client import DescribeClient

        if model.provider == "ollama":
            manager.warm_up_model(model.model_id)
        try:
            describe_fn = DescribeClient(
                manager.transport_for(model)
            ).as_describe_fn()
        except NotImplementedError as exc:
            # e.g. a 'Setup Required' Gemini row: warn and continue with the
            # deterministic fallback instead of crashing after all prompts
            print_fn(f"⚠️  {model.display_name}: {exc} — using fallback descriptions")
    kwargs = {
        "seed": seed,
        "crawl_strategy": "sitemap" if mode == "sitemap" else "systematic",
        "comprehensive": comprehensive,
        "sitemap_url": sitemap_url,
        "describe_fn": describe_fn,
    }
    if run_fn is None:
        run_fn = _default_run
    return run_fn(**kwargs)


def _default_run(seed, crawl_strategy, comprehensive, sitemap_url, describe_fn):
    """Drive the real pipeline over the synthetic corpus (the in-sandbox
    site source; production points generate_llmstxt at a real site table /
    HttpFetcher gateway)."""
    from . import schemas
    from .plans.pipeline import generate_llmstxt
    from .session import get_spark, local_frame
    from .sources.corpus import generate_corpus, render_sitemap_blobs

    spark = get_spark("interactive")
    try:
        corpus = generate_corpus()
        site = local_frame(spark, corpus.site_pages_rows(), schemas.SITE_PAGES)
        kw = {}
        if crawl_strategy == "sitemap":
            kw["sitemap_blobs"] = local_frame(
                spark, render_sitemap_blobs(corpus), "sitemap_url string, body binary"
            )
            kw["robots_text"] = (
                f"Sitemap: {sitemap_url or seed.rstrip('/') + '/sitemap.xml'}\n"
            )
        return generate_llmstxt(
            spark, site, seed, "./output",
            crawl_strategy=crawl_strategy, describe_fn=describe_fn,
            # the engine derives its comprehensive mode from the full-text
            # flags exactly like the shipped v2 (pipeline.py :90); the menu's
            # deep-crawl choice rides that same switch
            include_full_text=comprehensive, **kw
        )
    finally:
        spark.stop()
