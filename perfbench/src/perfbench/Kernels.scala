package perfbench

import graft.extract.Extractor
import graft.html.{Boilerplate, HtmlTokenizer, StreamSegmenter}
import graft.md.Markdown
import graft.pdf.XyCut
import graft.schema.Turn
import graft.text.Render
import graft.tool.ToolSpans

/** Single-thread Mchar/s of each extraction kernel over the seed's
  * transcript payloads of its kind. Every traced run reports them, so
  * they do not depend on the workload's Spark plan.
  */
object Kernels {
  /** The first turns (at most 40 each) of the first `convs`
    * conversations of `t`.
    */
  def sample(seed: Long, t: Gen.Transcripts, convs: Int = 600): Seq[Turn] =
    (0L until math.min(convs.toLong, t.convs)).flatMap(c =>
      (0 until math.min(t.turnsIn(seed, c), 40))
        .map(i => Gen.turn(seed, c, i)))

  def rates(ctx: Ctx, sample: Seq[Turn]): Seq[Metric] = {
    val byKind = sample.groupBy(t => Extractor.route(t.role, t.tool, t.text))
    def of(k: String) = byKind.getOrElse(k, Nil)
    def rate(name: String, items: Seq[Turn])(f: Turn => Any): Metric = {
      val chars = items.map(_.text.length.toLong).sum
      items.foreach(f) // warm
      var reps = 0
      val (_, s) = Stats.timed {
        val t0 = System.nanoTime()
        while (reps < 3 || System.nanoTime() - t0 < 300000000L) {
          items.foreach(f)
          reps += 1
        }
      }
      Metric(name, chars * reps / s / 1e6, "Mchar/s")
    }
    val html = of("html")
    val blocks = html.map(t => t -> StreamSegmenter.segment(t.text)).toMap
    val pdf = of("pdf")
    val runs = pdf.map(t => t -> XyCut.parseRuns(t.text)).toMap
    val spans = sample.map(t => t -> Extractor.extract(t)).toMap
    ctx.tracer.inPass("kernels") { ctx.traced(on = true) { Seq(
      ctx.span("extract.route")(rate("extract.route_mchar_per_s", sample)(
        t => Extractor.route(t.role, t.tool, t.text))),
      ctx.span("html.tokenize")(rate("html.tokenize_mchar_per_s", html)(
        t => HtmlTokenizer.scan(t.text, keepAttrs = false)(_ => ()))),
      ctx.span("html.segment")(rate("html.segment_mchar_per_s", html)(
        t => StreamSegmenter.segment(t.text))),
      ctx.span("html.classify")(rate("html.classify_mchar_per_s", html)(
        t => Boilerplate.classify(blocks(t)))),
      ctx.span("pdf.parse_runs")(rate("pdf.parse_runs_mchar_per_s", pdf)(
        t => XyCut.parseRuns(t.text))),
      ctx.span("pdf.order")(rate("pdf.order_mchar_per_s", pdf)(
        t => XyCut.lineBlocks(runs(t).groupBy(_.page).toVector.sortBy(_._1)
          .flatMap { case (_, rs) => XyCut.orderPage(rs) }))),
      ctx.span("tool.spans")(rate("tool.spans_mchar_per_s", of("tool"))(
        t => ToolSpans.extract(t.tool, t.text))),
      ctx.span("md.spans")(rate("md.spans_mchar_per_s", of("md"))(
        t => Markdown.spans(t.text))),
      ctx.span("text.render")(rate("text.render_mchar_per_s", sample)(
        t => { val e = spans(t); Render.render(t.text, e.spans, e.extractor) })))
    } }
  }
}
