package graft.rtmc

import java.io.{ByteArrayInputStream, StringWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import javax.xml.parsers.DocumentBuilderFactory
import javax.xml.transform.{OutputKeys, TransformerFactory}
import javax.xml.transform.dom.DOMSource
import javax.xml.transform.stream.StreamResult

import org.w3c.dom.{Document, Element, Node}

/** RTMC dashboard-project editor (reference:
  * code/rtmc_xml/rtmc_xml_parser.py:1-1013 and the per-site retarget
  * flow in code/rtmc_xml/rtmc_xml_writer.py:150-170). An `.rtmc2`
  * project is an XML document of screens holding typed components
  * (digitals, charts, images, alarms, wind roses) plus file-based data
  * sources; producing a site dashboard means cloning a template and
  * rewriting source paths, calculation strings, trace definitions and
  * image locations for that site. Pure driver-side DOM work by design
  * — no Spark involvement, like the reference.
  *
  * Build one with [[RtmcProject.load]] (file) or
  * [[RtmcProject.parse]] (string); mutate via the typed editors; then
  * [[RtmcProject.write]] (refuses to overwrite the template, enforces
  * the `.rtmc2` extension — rtmc_xml_parser.py:587-625).
  */
final class RtmcProject private (
    private val doc: Document,
    val templatePath: Option[Path]) {

  import RtmcProject._

  private def root: Element = doc.getDocumentElement

  // ---- generic direct-child DOM helpers (ElementTree `find` uses
  // direct-child paths, so these deliberately do NOT search descendants)

  private def childElems(parent: Element): Seq[Element] = {
    val kids = parent.getChildNodes
    (0 until kids.getLength).map(kids.item).collect {
      case e: Element => e
    }
  }

  private def childrenNamed(parent: Element, tag: String): Seq[Element] =
    childElems(parent).filter(_.getTagName == tag)

  private def childNamed(parent: Element, tag: String): Option[Element] =
    childrenNamed(parent, tag).headOption

  private def requireChild(parent: Element, tag: String): Element =
    childNamed(parent, tag).getOrElse(throw new NoSuchElementException(
      s"no <$tag> element under <${parent.getTagName}>"))

  // ---- screen / component tree walk (rtmc_xml_parser.py:391-532)

  /** All screen names in declaration order. */
  def screenNames: Seq[String] =
    childNamed(root, "Screens").toSeq
      .flatMap(childrenNamed(_, "screen"))
      .map(_.getAttribute("screen_name"))

  def screenElement(screen: String): Element =
    childNamed(root, "Screens").toSeq
      .flatMap(childrenNamed(_, "screen"))
      .find(_.getAttribute("screen_name") == screen)
      .getOrElse(throw new NoSuchElementException(
        s"no screen named '$screen'"))

  /** Components of a screen, optionally filtered to one display type
    * name and (by default) descending into 10806 group containers —
    * rtmc_xml_parser.py:417-465. */
  def components(screen: String, typeName: Option[String] = None,
      lookInGroups: Boolean = true): Seq[Element] = {
    val all = childNamed(screenElement(screen), "Components").toSeq
      .flatMap(childrenNamed(_, "component"))
    typeName match {
      case None => all
      case Some(tn) =>
        val typeId = ComponentTypeNames.collectFirst {
          case (id, n) if n == tn => id
        }.getOrElse(throw new NoSuchElementException(
          s"unknown component type '$tn'"))
        val direct = all.filter(_.getAttribute("type") == typeId)
        if (!lookInGroups) direct
        else direct ++ all.filter(_.getAttribute("type") == GroupTypeId)
          .flatMap(g => childNamed(g, "Components").toSeq
            .flatMap(childrenNamed(_, "component"))
            .filter(c => ComponentTypeNames.contains(
              c.getAttribute("type"))))
    }
  }

  def componentByName(screen: String, name: String): Element =
    components(screen).find(_.getAttribute("name") == name)
      .getOrElse(throw new NoSuchElementException(
        s"could not find component $name"))

  /** Names of components whose name was manually edited in the RTMC
    * designer (comp_name_manually_editted flag) —
    * rtmc_xml_parser.py:510-531. */
  def editedComponentNames(screen: String): Seq[String] =
    components(screen).filter(c =>
      childNamed(c, "comp_name_manually_editted").exists(
        _.getTextContent == "true"))
      .map(_.getAttribute("name"))

  // ---- typed editors (rtmc_xml_parser.py:24-285, 324-364)

  /** The editor for a component element, chosen by its numeric type id
    * exactly as the reference's _COMP_DICT dispatch. */
  def editorFor(elem: Element): ComponentEditor = {
    val typeId = elem.getAttribute("type")
    require(typeId.nonEmpty,
      "not a component element - did not contain attribute \"type\"")
    ComponentTypeNames.get(typeId) match {
      case Some("Image")             => ImageEditor(this, elem)
      case Some("Time Series Chart") => TimeSeriesChartEditor(this, elem)
      case Some("Time") | Some("Segmented Time") => TimeEditor(this, elem)
      case Some("Basic Status Bar")  => BasicStatusBarEditor(this, elem)
      case Some("Wind Rose")         => WindRoseEditor(this, elem)
      case Some(_)                   => DigitalEditor(this, elem)
      case None => throw new NoSuchElementException(
        s"component element of type $typeId is not defined!")
    }
  }

  def editorByName(screen: String, name: String): ComponentEditor =
    editorFor(componentByName(screen, name))

  /** File-based data source editor: `sourceType` is "data" or
    * "details", mapping to the DataFile / DetailsFile sources —
    * rtmc_xml_parser.py:534-569. */
  def fileSource(sourceType: String): FileSourceEditor = {
    val sourceName = sourceType match {
      case "data"    => "DataFile"
      case "details" => "DetailsFile"
      case other => throw new NoSuchElementException(
        s"'$other' is not a file source type (data, details)")
    }
    val elem = childNamed(root, "Sources").toSeq
      .flatMap(childrenNamed(_, "source"))
      .find(_.getAttribute("name") == sourceName)
      .getOrElse(throw new NoSuchElementException(
        s"no source named '$sourceName'"))
    FileSourceEditor(this, elem)
  }

  def basicSettings: BasicSettingsEditor = BasicSettingsEditor(this, root)

  /** The per-site retarget the reference's writer performs before any
    * screen-specific edits (rtmc_xml_writer.py:150-170): point the
    * data and details sources at the site's merged/details files and
    * the snapshot destination at the site's snapshot directory. */
  def retargetSite(site: String, dataDir: String,
      snapshotDir: String): Unit = {
    fileSource("data").setSourceFile(s"$dataDir$site" + "_merged_std.dat")
    fileSource("details").setSourceFile(s"$dataDir$site" + "_details.dat")
    basicSettings.setSnapshotDestination(s"$snapshotDir$site")
  }

  // ---- serialization (rtmc_xml_parser.py:587-625)

  def toXmlString: String = {
    val tf = TransformerFactory.newInstance().newTransformer()
    tf.setOutputProperty(OutputKeys.OMIT_XML_DECLARATION, "yes")
    val sw = new StringWriter()
    tf.transform(new DOMSource(doc), new StreamResult(sw))
    sw.toString
  }

  /** Write the edited project. Refuses a non-`.rtmc2` extension, a
    * missing parent directory, and overwriting the loaded template. */
  def write(fileName: String): Unit = {
    val target = Paths.get(fileName)
    val parent = Option(target.getParent).getOrElse(Paths.get("."))
    if (!Files.exists(parent))
      throw new java.io.FileNotFoundException(
        s"no such directory as $parent!")
    if (!fileName.endsWith(".rtmc2"))
      throw new IllegalArgumentException(
        "file extension must be \".rtmc2\"")
    if (templatePath.exists(_.toAbsolutePath == target.toAbsolutePath))
      throw new IllegalArgumentException(
        "no overwrite of template file allowed!")
    Files.write(target,
      toXmlString.getBytes(StandardCharsets.UTF_8))
  }

  // package-private accessors for the editor case classes
  private[rtmc] def child(parent: Element, tag: String): Option[Element] =
    childNamed(parent, tag)
  private[rtmc] def children(parent: Element, tag: String): Seq[Element] =
    childrenNamed(parent, tag)
  private[rtmc] def mustChild(parent: Element, tag: String): Element =
    requireChild(parent, tag)
}

object RtmcProject {

  /** Numeric component-type id -> display type name, exactly the
    * reference's _COMP_DICT (rtmc_xml_parser.py:298-317). */
  val ComponentTypeNames: Map[String, String] = Map(
    "10702" -> "Image",
    "10101" -> "Digital",
    "10602" -> "Time Series Chart",
    "10106" -> "Time",
    "10108" -> "Segmented Time",
    "10002" -> "Basic Status Bar",
    "10207" -> "Multi-State Alarm",
    "10205" -> "Comm Status Alarm",
    "10712" -> "Multi-State Image",
    "10204" -> "No Data Alarm",
    "10606" -> "Wind Rose",
    "10503" -> "Rotary Gauge")

  /** Group container type id — groups are descended into, not edited. */
  val GroupTypeId = "10806"

  private def newBuilder = {
    val f = DocumentBuilderFactory.newInstance()
    // hygiene for untrusted project files: no DTD/entity resolution
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl",
      true)
    f.setXIncludeAware(false)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder()
  }

  def load(path: String): RtmcProject = {
    val p = Paths.get(path)
    val doc = newBuilder.parse(p.toFile)
    doc.getDocumentElement.normalize()
    new RtmcProject(doc, Some(p))
  }

  def parse(xml: String): RtmcProject = {
    val doc = newBuilder.parse(
      new ByteArrayInputStream(xml.getBytes(StandardCharsets.UTF_8)))
    doc.getDocumentElement.normalize()
    new RtmcProject(doc, None)
  }
}

/** Typed component editors mirroring rtmc_xml_parser.py:24-285. Each
  * wraps the component's DOM element; getters return Option where the
  * reference would return None-ish, setters mutate the tree in place. */
sealed trait ComponentEditor {
  def project: RtmcProject
  def elem: Element

  /** The component's `<calculation>` text (Digital_editor semantics —
    * every editor in the reference ultimately extends it or hosts one). */
  def calculationText: Option[String] =
    project.child(elem, "calculation").map(_.getTextContent)
  def setCalculationText(text: String): Unit =
    project.mustChild(elem, "calculation").setTextContent(text)
}

final case class DigitalEditor(project: RtmcProject, elem: Element)
    extends ComponentEditor

/** Basic status bar: max/min pointer calculations
  * (rtmc_xml_parser.py:75-96). `pointer` is "max", "min", or None for
  * the first generic `Pointers/pointer`. */
final case class BasicStatusBarEditor(project: RtmcProject, elem: Element)
    extends ComponentEditor {
  private def pointerElem(pointer: Option[String]): Element =
    pointer match {
      case None =>
        project.mustChild(project.mustChild(
          project.mustChild(elem, "Pointers"), "pointer"), "calculation")
      case Some(p) =>
        val tag = p match {
          case "max" => "max_pointer"
          case "min" => "min_pointer"
          case other => throw new NoSuchElementException(
            s"pointer must be max or min, got $other")
        }
        project.mustChild(project.mustChild(elem, tag), "calculation")
    }
  def pointerCalculationText(pointer: Option[String] = None): String =
    pointerElem(pointer).getTextContent
  def setPointerCalculationText(pointer: Option[String],
      text: String): Unit =
    pointerElem(pointer).setTextContent(text)
}

/** Image component: the `<image_name>` path
  * (rtmc_xml_parser.py:124-140). */
final case class ImageEditor(project: RtmcProject, elem: Element)
    extends ComponentEditor {
  def imageName: Option[String] =
    project.child(elem, "image_name").map(_.getTextContent)
  def setImageName(text: String): Unit =
    project.mustChild(elem, "image_name").setTextContent(text)
}

/** Time / segmented-time component: UTC offset text and units
  * (rtmc_xml_parser.py:142-165). */
final case class TimeEditor(project: RtmcProject, elem: Element)
    extends ComponentEditor {
  def offsetText: Option[String] =
    project.child(elem, "time_offset_with_units").map(_.getTextContent)
  def setOffsetText(text: String): Unit =
    project.mustChild(elem, "time_offset_with_units")
      .setTextContent(text)
  def setOffsetUnitsText(text: String): Unit =
    project.mustChild(elem, "time_offset_units").setTextContent(text)
}

/** Time-series chart: trace management keyed on the `label` attribute
  * of `Traces/traces` children (rtmc_xml_parser.py:167-258). The
  * `count` attribute on `<Traces>` is kept in sync on drop/duplicate
  * exactly as the reference does. */
final case class TimeSeriesChartEditor(project: RtmcProject,
    elem: Element) extends ComponentEditor {
  private def tracesParent: Element = project.mustChild(elem, "Traces")
  def traceElements: Seq[Element] =
    project.children(tracesParent, "traces")
  def traceLabels: Seq[String] =
    traceElements.map(_.getAttribute("label"))
  def traceByLabel(label: String): Element =
    traceElements.find(_.getAttribute("label") == label)
      .getOrElse(throw new NoSuchElementException(
        s"no trace labelled '$label'"))

  /** "right" when the trace's vertical-axis attribute is 1, else
    * "left". */
  def axisByLabel(label: String): String =
    if (project.mustChild(traceByLabel(label), "trace")
        .getAttribute("vertical-axis") == "1") "right"
    else "left"

  def traceCalculation(label: String): String =
    project.mustChild(traceByLabel(label), "calculation").getTextContent

  def setTraceCalculation(label: String, calculationText: String,
      labelText: Option[String] = None): Unit = {
    val t = traceByLabel(label)
    project.mustChild(t, "calculation").setTextContent(calculationText)
    labelText.foreach(t.setAttribute("label", _))
  }

  /** Batched attribute update (set_trace_attributes_by_label). */
  def setTraceAttributes(label: String,
      newLabel: Option[String] = None,
      calculation: Option[String] = None,
      rgb: Option[String] = None,
      title: Option[String] = None): Unit = {
    val t = traceByLabel(label)
    newLabel.foreach(t.setAttribute("label", _))
    calculation.foreach(
      project.mustChild(t, "calculation").setTextContent(_))
    rgb.foreach(project.mustChild(project.mustChild(t, "trace"), "pen")
      .setAttribute("colour", _))
    title.foreach(project.mustChild(t, "trace").setAttribute("title", _))
  }

  def dropTrace(label: String): Unit = {
    tracesParent.removeChild(traceByLabel(label))
    tracesParent.setAttribute("count", traceLabels.length.toString)
  }

  def duplicateTrace(oldLabel: String, newLabel: String): Unit = {
    val copy = traceByLabel(oldLabel).cloneNode(true)
      .asInstanceOf[Element]
    copy.setAttribute("label", newLabel)
    tracesParent.appendChild(copy)
    tracesParent.setAttribute("count", traceLabels.length.toString)
  }
}

/** Wind rose: direction/speed column names
  * (rtmc_xml_parser.py:260-285). */
final case class WindRoseEditor(project: RtmcProject, elem: Element)
    extends ComponentEditor {
  def windDirColumn: Option[String] =
    project.child(elem, "wind_direction_column_name")
      .map(_.getTextContent)
  def setWindDirColumn(text: String): Unit =
    project.mustChild(elem, "wind_direction_column_name")
      .setTextContent(text)
  def setWindSpdColumn(text: String): Unit =
    project.mustChild(elem, "wind_speed_column_name")
      .setTextContent(text)
}

/** File-based data source: name attribute + settings@file-name
  * (rtmc_xml_parser.py:98-122). */
final case class FileSourceEditor(project: RtmcProject, elem: Element) {
  def sourceFile: String =
    project.mustChild(elem, "settings").getAttribute("file-name")
  def setSourceFile(path: String): Unit =
    project.mustChild(elem, "settings").setAttribute("file-name", path)
  def sourceName: String = elem.getAttribute("name")
}

/** Project-level settings: snapshot output directory and per-screen
  * snapshot enablement (rtmc_xml_parser.py:50-73). */
final case class BasicSettingsEditor(project: RtmcProject,
    elem: Element) {
  def snapshotDestination: Option[String] =
    project.child(elem, "snapshot_directory").map(_.getTextContent)
  def setSnapshotDestination(text: String): Unit =
    project.mustChild(elem, "snapshot_directory").setTextContent(text)
  private def screenEnabled(screen: String): Element = {
    val s = project.child(elem, "Screens").toSeq
      .flatMap(project.children(_, "screen"))
      .find(_.getAttribute("screen_name") == screen)
      .getOrElse(throw new NoSuchElementException(
        s"no screen named '$screen'"))
    project.mustChild(s, "snapshot_enabled")
  }
  def snapshotScreenState(screen: String): String =
    screenEnabled(screen).getTextContent
  def setSnapshotScreenState(screen: String, state: String): Unit =
    screenEnabled(screen).setTextContent(state)
}
