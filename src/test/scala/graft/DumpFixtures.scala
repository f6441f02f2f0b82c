package graft

import graft.sources.DiscogsXml

import java.io.File
import java.nio.file.Files

/** Generated Discogs dumps that the reader specs share. */
object DumpFixtures {

  /** A gz releases dump above [[DiscogsXml.SplitMinBytes]], so a load
    * reads it in several ranges, holding every case the tag scan must
    * read as Spark's XML reader does: self-closing records, tag text
    * inside comments, CDATA sections and quoted attribute values,
    * processing instructions, and a `<release>` nested inside a record.
    * Id 7 comes again at the very end with other content and children,
    * so its two copies fall in different ranges and only the first may
    * survive. */
  def bigReleases(dir: File): String = {
    val f = new File(dir, "releases-big.xml.gz")
    val rnd = new scala.util.Random(8)
    val out = new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8")
    try {
      out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<releases>\n")
      (1 to 4000).foreach { id =>
        // random text, so the dump stays above the line in few records
        val noise = Seq.fill(6)(rnd.nextLong().toHexString).mkString(" ")
        if (id % 97 == 0) out.write(s"""  <release id="$id" status="Accepted"/>\n""")
        else {
          out.write(s"""  <release id="$id" status="${if (id % 89 == 0) "a>b" else "Accepted"}">""")
          out.write(s"<title>Release $id $noise</title>")
          out.write(s"""<labels><label name="L$id" catno="C$id" id="${id % 50}"/></labels>""")
          if (id % 3 == 0)
            out.write(s"<notes><![CDATA[$id < 2 </release> <release id=\"${300000 + id}\">]]></notes>")
          if (id % 5 == 0)
            out.write(s"""<videos><video src="http://v/$id" duration="$id" embed="true"><title>v$id</title></video></videos>""")
          if (id % 7 == 0)
            out.write(s"""<extra><release id="${200000 + id}" status="Inner"><title>inner</title></release></extra>""")
          if (id % 11 == 0) out.write("<!-- </release> <release id=\"1\"> -->")
          out.write("</release>\n")
        }
        if (id % 13 == 0)
          out.write(s"""  <!-- <release id="${100000 + id}" status="Ghost"><title>ghost</title></release> -->\n""")
        if (id % 17 == 0) out.write(s"  <?graft skip <release>?>\n")
      }
      out.write("""  <release id="7" status="Accepted"><title>Seven again</title>""" +
        """<labels><label name="Late" catno="L7" id="3"/></labels></release>""" + "\n")
      out.write("</releases>\n")
    } finally out.close()
    assert(f.length >= DiscogsXml.SplitMinBytes, s"${f.length} bytes: below the range line")
    f.getPath
  }

  /** A gz releases dump of 4,000 records above
    * [[DiscogsXml.SplitMinBytes]], so a load reads it in several
    * ranges, whose ids repeat far apart: the first copy of id 2 is a
    * reject that keeps its id (a bad integer) and its copy after record 2,800 is
    * good, with a label and a video; ids 3 and 1,600 are kept where
    * they first come and come again after record 2,800 with other
    * content, a label and a video. */
  def repeatedReleases(dir: File): String = {
    val f = new File(dir, "releases-repeats.xml.gz")
    val rnd = new scala.util.Random(11)
    val out = new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8")
    def release(id: Int, title: String, children: String = "") =
      s"""  <release id="$id" status="Accepted"><title>$title</title>$children</release>\n"""
    def children(id: Int, tag: String) =
      s"""<labels><label name="$tag" catno="C$id" id="$id"/></labels>""" +
        s"""<videos><video src="http://v/$tag" duration="$id" embed="true"><title>$tag</title></video></videos>"""
    try {
      out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<releases>\n")
      out.write("""  <release id="2" status="Accepted"><title>Bad int</title>""" +
        """<master_id is_main_release="true">12x</master_id>""" + children(2, "Rejected") + "</release>\n")
      (3 to 4000).foreach { id =>
        val noise = Seq.fill(6)(rnd.nextLong().toHexString).mkString(" ")
        out.write(release(id, s"Release $id $noise", children(id, s"L$id")))
        if (id == 2800) {
          out.write(release(2, "Good two", children(2, "Two")))
          out.write(release(3, "Three again", children(3, "Late")))
          out.write(release(1600, "Again", children(1600, "Late")))
        }
      }
      out.write("</releases>\n")
    } finally out.close()
    assert(f.length >= DiscogsXml.SplitMinBytes, s"${f.length} bytes: below the range line")
    f.getPath
  }

  /** One plain dump per entity holding what a real dump gets wrong or
    * writes oddly: a record that is not well-formed (a mismatched end
    * tag, an undeclared entity), a bad or missing id, a bad integer in
    * an element (at the top, in a wrapper and in a nested record, where
    * Spark's reader keeps only what it read before it), empty and
    * self-closing elements, entities and CDATA, text with surrounding
    * whitespace, comments and processing instructions inside text,
    * undeclared elements, a string element holding markup, a repeated
    * scalar and a field name in other case. */
  def dirtyDumps(dir: File): Seq[String] = {
    def write(name: String, xml: String): String = {
      val f = new File(dir, name)
      Files.writeString(f.toPath, xml)
      f.getPath
    }
    Seq(
      write("dirty-releases.xml",
        """<?xml version="1.0" encoding="UTF-8"?>
          |<releases>
          |  <release id="1" status="Accepted"><title>  Padded title  </title><country> US </country>
          |    <labels><label name="  Spaced  " catno=" C1 " id=" 3 "/></labels></release>
          |  <release id="2" status="Accepted"><title>Broken</titl></release>
          |  <release id="oops" status="Accepted"><title>Bad id</title></release>
          |  <release status="Accepted"><title>No id</title></release>
          |  <release id="4" status="  Draft  "><title>Bad int</title><master_id is_main_release="true">12x</master_id><notes>lost</notes></release>
          |  <release id="5" status="Accepted"><title></title><notes/><genres><genre/><genre> Rock </genre></genres><labels/><styles></styles><videos><video/></videos></release>
          |  <release id="6" status="Accepted"><title>A &amp; B &lt;C&gt; &#233;</title><notes><![CDATA[x < y & z]]> tail</notes></release>
          |  <release id="7" status="Accepted"><title>mid<!-- c -->dle<?pi x?>end</title><notes>a <b x="1">bold</b> c</notes><extra><title>inner</title></extra></release>
          |  <release id="8" status="Accepted"><Title>first</Title><title>second</title><master_id>  77  </master_id><DATA_QUALITY>Correct</DATA_QUALITY></release>
          |  <release id="9" status="Accepted"><title>Undeclared &nbsp; entity</title></release>
          |  <release id="10" status="Accepted"><title>Kept</title><master_id>-5</master_id>
          |    <videos>
          |      <video src=" http://v " duration=" 30 " embed="true"><title> v </title><description/></video>
          |    </videos>
          |  </release>
          |  <release id="1" status="Accepted"><title>Late copy</title></release>
          |</releases>
          |""".stripMargin),
      write("dirty-artists.xml",
        """<?xml version="1.0" encoding="UTF-8"?>
          |<artists>
          |  <artist><id> 1 </id><name>Real</name><members><id>x9</id><name id="5">Member</name><id>7</id></members><realname>R</realname></artist>
          |  <artist><name>Before id</name><id>2</id><aliases><name id="3"> Al </name><name>Bo</name></aliases><namevariations><name/></namevariations></artist>
          |  <artist><id>oops</id><name>Bad id</name></artist>
          |  <artist><name>No id</name></artist>
          |  <artist><id>3</id><name>Broken<name></artist>
          |</artists>
          |""".stripMargin),
      write("dirty-masters.xml",
        """<?xml version="1.0" encoding="UTF-8"?>
          |<masters>
          |  <master id="1"><main_release> 12x </main_release><year>1999</year></master>
          |  <master id="2"><main_release/><year> </year><title>Empty ints</title></master>
          |  <master id="3"><title>Nested bad</title><artists><artist><id>oops</id><name>N</name></artist><artist><id>4</id></artist></artists><notes>after</notes></master>
          |  <master id="4"><title>Good</title><year>+2001</year><artists><artist><id> 9 </id><name> Nine </name><anv/></artist></artists></master>
          |</masters>
          |""".stripMargin))
  }
}
